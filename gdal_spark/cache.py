"""Owned persisted tables: operators persist shared subtrees with
`persist` and cut long plans with `checkpoint`; outside `scope()` they
stay persisted, inside one they are released on its exit. Scopes are
per thread: `foreachBatch` runs on another."""
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_local = threading.local()


def _owner():
    """This thread's innermost scope (a list of release calls), or None."""
    stack = getattr(_local, "stack", None)
    return stack[-1] if stack else None


def persist(df: DataFrame) -> DataFrame:
    """`df.persist()`, owned by this thread's innermost scope if new."""
    owner = _owner()
    if owner is not None and df.storageLevel == StorageLevel.NONE:
        owner.append(df.unpersist)
    return df.persist()


def checkpoint(df: DataFrame) -> DataFrame:
    """`df.localCheckpoint(eager=True)`, owned by this thread's innermost
    scope. The blocks sit in the persisted RDD under the returned plan's
    LogicalRDD, which `DataFrame.unpersist` never reaches, so the scope
    unpersists that RDD."""
    out = df.localCheckpoint(eager=True)
    owner = _owner()
    if owner is not None:
        rdd = out._jdf.queryExecution().analyzed().rdd()
        owner.append(lambda: rdd.unpersist(False))
    return out


@contextmanager
def scope():
    """Release, on exit, exactly what `persist` and `checkpoint` made
    inside. Run the action inside too: a checkpointed plan cannot be
    recomputed once its blocks are gone."""
    stack = _local.__dict__.setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for release in reversed(stack.pop()):
            release()
