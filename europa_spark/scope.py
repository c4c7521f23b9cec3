"""One materialization scope: every cached or lineage-truncated frame a
caller creates is recorded in the scope that created it, and ``release()``
frees exactly those blocks.

A ``Scope`` is a list of entries that each have a no-argument
``unpersist()``: persisted DataFrames, and the checkpoint RDD of every
``truncate``. Pair functions that take ``registry=`` only ``append`` to it,
so a plain list works as a registry too (the caller then unpersists each
entry itself).

``truncate`` records the checkpoint's OWN RDD (the leaf ``LogicalRDD`` of
the returned frame), so two driver threads sharing a session never free
each other's blocks and no global persistent-RDD bookkeeping is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cache_in(
    registry: list | None, df: DataFrame, eager: bool = False
) -> DataFrame:
    """The pair-function contract in one place: with no registry ``df`` is
    returned as is (a lazy plan, no job); with one it is persisted (and,
    when ``eager``, materialized by one barrier job) and appended for the
    caller to release."""
    if registry is None:
        return df
    df = df.persist()
    registry.append(df)
    if eager:
        df.count()
    return df


class _CheckpointRDD:
    """The stored blocks behind a ``localCheckpoint``'d frame."""

    def __init__(self, df: DataFrame) -> None:
        self._rdd = df._jdf.queryExecution().analyzed().rdd()

    def unpersist(self) -> None:
        self._rdd.unpersist(False)


class Scope(list):
    """persist / truncate / release; ``with Scope() as s:`` releases on
    exit, error included."""

    def persist(self, df: DataFrame) -> DataFrame:
        """LAZY persist: marks the subtree for caching so multi-consumer
        frames compute once; the first action that reads it fills it."""
        return cache_in(self, df)

    def truncate(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """localCheckpoint: downstream actions plan against a leaf
        LogicalRDD instead of re-analyzing the whole upstream tree.
        ``eager=False`` adds no job: whichever action first reads the frame
        computes and stores the blocks."""
        out = df.localCheckpoint(eager=False)
        self.append(_CheckpointRDD(out))
        if eager:
            out.count()
        return out

    def release(self) -> None:
        while self:
            self.pop().unpersist()

    def __enter__(self) -> "Scope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()
