"""Scope ownership: each scope frees exactly the blocks it created, on a
session shared by several driver threads and when its body raises."""

from __future__ import annotations

import threading

import pytest
from pyspark.storagelevel import StorageLevel

from europa_spark.scope import Scope


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _checkpoint_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _fill(spark, scope: Scope, tag: int, n: int = 4) -> tuple[list, list]:
    """``n`` persisted and ``n`` truncated frames whose plans are unique to
    ``tag`` (the cache is keyed by plan, so threads must not share one)."""
    persisted, truncated = [], []
    for i in range(n):
        p = scope.persist(spark.range(200).selectExpr(f"id * {tag} + {i} AS x"))
        p.count()
        persisted.append(p)
        truncated.append(
            scope.truncate(spark.range(200).selectExpr(f"id - {tag} * {i} AS x"))
        )
    return persisted, truncated


def _held(spark, persisted: list, truncated: list) -> bool:
    live = _persistent_ids(spark)
    return all(p.storageLevel != StorageLevel.NONE for p in persisted) and all(
        _checkpoint_id(t) in live for t in truncated
    )


def _freed(spark, persisted: list, truncated: list) -> bool:
    live = _persistent_ids(spark)
    return all(p.storageLevel == StorageLevel.NONE for p in persisted) and not any(
        _checkpoint_id(t) in live for t in truncated
    )


def test_threads_release_only_their_own_blocks(spark):
    """Two driver threads persist and truncate concurrently in their own
    scopes on the shared session; releasing one scope frees exactly its
    frames while the other thread's stay stored and readable."""
    scopes = {1: Scope(), 2: Scope()}
    frames: dict[int, tuple[list, list]] = {}
    errors: list[BaseException] = []
    start = threading.Barrier(2)

    def work(tag: int) -> None:
        try:
            start.wait(timeout=60)
            frames[tag] = _fill(spark, scopes[tag], tag + 1)
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in scopes]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "a scope thread hung"
    assert not errors, errors
    try:
        assert len(scopes[1]) == len(scopes[2]) == 8
        assert _held(spark, *frames[1]) and _held(spark, *frames[2])
        scopes[1].release()
        assert _freed(spark, *frames[1])
        assert _held(spark, *frames[2])
        for df in frames[2][0] + frames[2][1]:
            assert df.count() == 200
    finally:
        scopes[1].release()
        scopes[2].release()
    assert _freed(spark, *frames[2])


def test_scope_releases_on_error(spark):
    """An exception inside ``with Scope()`` still frees that scope's
    persisted and checkpointed blocks."""
    with pytest.raises(RuntimeError, match="boom"):
        with Scope() as scope:
            frames = _fill(spark, scope, 7, n=1)
            assert _held(spark, *frames)
            raise RuntimeError("boom")
    assert not scope
    assert _freed(spark, *frames)
