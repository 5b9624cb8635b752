"""The operator cache contract: who releases what an operator pinned.

Several operators ``persist()`` an intermediate whose plan is read
more than once (both sides of a self-join, a frequency build plus a
probe), and iterative ones ``localCheckpoint()`` their loop state.
The operators return LAZY DataFrames, so they cannot release those
frames before the caller has run its action. One rule covers it:

- **Library callers** wrap the operator call AND its action in
  ``with cache_scope():``. On exit the scope releases exactly the
  frames pinned or checkpointed inside it, and nothing else:

    >>> with cache_scope():
    ...     some_operator(df).write.parquet(path)

- **Harnesses running suite queries** (``bench.py``,
  ``tools/check_oracle.py``, ``perfbench``) call
  ``session.release_cached(spark)`` between queries instead — a
  session-wide sweep.

Every persist and checkpoint under ``operators/`` goes through
``pin`` and ``checkpoint`` (a static test enforces it). Outside a
scope both are plain ``persist()`` / ``localCheckpoint()``.

The scope releases by handle, never by diffing
``getPersistentRDDs()`` ids: a caller's own lazy ``persist()`` that
first materializes inside the scope gets a fresh RDD id there, and an
id diff would drop the caller's cache with the operator's.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# release callbacks of the innermost open scope; None = no scope open
_RELEASES: ContextVar[list | None] = ContextVar("cache_scope", default=None)


def pin(df: DataFrame) -> DataFrame:
    """``persist()`` a multiply-read intermediate; inside a
    ``cache_scope`` record it for release. A plan that is already
    cached (the caller's own cache) is returned as is, so the scope
    never releases a cache it did not create."""
    releases = _RELEASES.get()
    if releases is None:
        return df.persist()
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist()
    releases.append(df.unpersist)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint()`` (cut an iterative plan's lineage);
    inside a ``cache_scope`` record the checkpoint for release. Its
    blocks are not in the catalog, so the release unpersists the RDD
    under the checkpoint's ``LogicalRDD`` plan."""
    df = df.localCheckpoint()
    releases = _RELEASES.get()
    if releases is not None:
        releases.append(
            lambda: df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        )
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Release, on exit, every frame ``pin``/``checkpoint`` cached
    inside the block (newest first). Scopes nest: an inner scope
    releases only its own frames."""
    releases: list = []
    token = _RELEASES.set(releases)
    try:
        yield
    finally:
        _RELEASES.reset(token)
        for release in reversed(releases):
            release()
