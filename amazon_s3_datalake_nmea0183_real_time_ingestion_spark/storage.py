"""Storage policy for reused frames: the one place that decides how a
frame read by several consumers (or by several rounds of a loop) is
stored, and who frees it.

``stored(df)`` cuts the frame's lineage and stores it LAZILY: the first
action that reads it computes and stores the blocks (so a loop's
convergence count doubles as the round's materialization), and every
later action reads the stored blocks instead of replanning the subtree.

- Default: a local checkpoint (executor-local blocks, no DFS write).
  Fast, but an executor lost mid-job fails the query instead of
  recomputing the lost partitions — right for local mode and for
  queries that are cheap to rerun.
- Durable: when the session has a checkpoint directory (set
  ``spark.checkpoint.dir``, e.g. through
  ``SPARK_GRAFT_CONF="spark.checkpoint.dir=hdfs://..."``), frames are
  written there with a reliable checkpoint instead, so a lost executor
  does not abort a long iterative job.  No call site changes.

Local-checkpoint blocks otherwise live until Spark's ContextCleaner
collects the frame, so a long-lived caller (a foreachBatch micro-batch,
a service answering many queries in one session) wraps each unit of
work in ``release_scope()``: every frame stored inside the scope has its blocks
freed when the scope exits.  A frame read after its scope has exited
fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) rather than recomputing,
so the scope must cover every action that reads its frames.  The scope
lives in a ``ContextVar``: concurrent foreachBatch threads each see only
their own.  In durable mode the scope frees cached blocks only; the
checkpoint files follow ``spark.cleaner.referenceTracking.cleanCheckpoints``.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_held: ContextVar[list[DataFrame] | None] = ContextVar("stored_frames", default=None)


def stored(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df`` with its lineage cut and its rows stored lazily (module
    docstring).  ``level`` overrides the local checkpoint's storage
    level; durable mode ignores it."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        out = df.checkpoint(eager=False)
    elif level is None:
        out = df.localCheckpoint(eager=False)
    else:
        out = df.localCheckpoint(eager=False, storageLevel=level)
    held = _held.get()
    if held is not None:
        held.append(out)
    return out


@contextmanager
def release_scope() -> Iterator[None]:
    """Free the blocks of every frame ``stored()`` inside this scope when
    it exits (normally or by exception)."""
    held: list[DataFrame] = []
    token = _held.set(held)
    try:
        yield
    finally:
        _held.reset(token)
        for df in held:
            df._jdf.queryExecution().analyzed().rdd().unpersist(True)
