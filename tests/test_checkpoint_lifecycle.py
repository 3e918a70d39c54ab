"""Lifetime-registry invariants (operators/lifetime.py) for checkpoints
and pinned frames.

A long-running pipeline calls tracked_checkpoint thousands of times;
the registry must not grow without bound when callers release handles
themselves, and a release must actually free the block-manager blocks.
"""

import pyspark.sql.functions as F

from sea_serpent_spark.operators import lifetime
from sea_serpent_spark.operators.util import (
    release_checkpoints,
    tracked_checkpoint,
)


def _entries() -> list:
    with lifetime._LOCK:
        return [h for held in lifetime._SCOPES.values() for h in held]


def _live_ids(spark):
    jsc = spark.sparkContext._jsc
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def test_release_untracks_and_frees_blocks(spark):
    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    n0 = len(_entries())
    out, handle = tracked_checkpoint(df)
    out.count()
    assert handle in _entries() and not handle.recomputable
    assert handle.rdd_ids and set(handle.rdd_ids) <= _live_ids(spark)
    handle.release()
    # explicitly-released handles leave the registry — no slow leak of
    # _jsc-holding handles in library (non-bench) sessions
    assert handle not in _entries()
    assert len(_entries()) == n0
    assert not (set(handle.rdd_ids) & _live_ids(spark))
    handle.release()  # idempotent
    assert len(_entries()) == n0


def test_release_checkpoints_drains_registry(spark):
    n0 = len(_entries())
    for i in range(3):
        out, _ = tracked_checkpoint(spark.range(100 + i))
        out.count()
    assert len(_entries()) == n0 + 3
    release_checkpoints()
    assert _entries() == []
    release_checkpoints()  # idempotent on empty


def test_pinned_frame_release(spark):
    df = spark.range(500).persist()
    df.count()
    n0 = len(_entries())
    handle = lifetime._pin(df)
    assert len(_entries()) == n0 + 1
    # a pin is not recomputable: the scope's operator-entry retire
    # leaves it persisted
    lifetime._retire_scope()
    assert df.storageLevel.useMemory and handle in _entries()
    handle.release()
    assert handle not in _entries()
    assert not df.storageLevel.useMemory
    handle.release()  # idempotent
