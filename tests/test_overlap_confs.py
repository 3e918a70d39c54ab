"""Plan-posture isolation and the thread-scoped lifetime registry
under ``overlap_build``.

``util.posture`` runs one action on its own session clone. These tests
pin what that buys over flipping the shared session's conf: a sibling
thread compiling on the parent keeps its adaptive plan, a posture action
inside an ``overlap_build`` chain still gets its posture, and the
parent's conf never changes, not even when the action raises.

``overlap_build`` also runs each chain in its own lifetime scope: a
sibling chain's operator-entry retire cannot drop a chain's frames, and
the chains' frames move to the caller's scope, which retires them at
its next boundary, so repeated overlapped builds do not pile up cache.
"""

import sys
import threading

import pytest
from pyspark.sql import functions as F

from sea_serpent_spark.operators.lifetime import (
    _chain_scopes,
    _keep_cache,
    _retire_scope,
)
from sea_serpent_spark.operators.util import (
    SCALAR,
    micro,
    overlap_build,
    posture,
    release_checkpoints,
)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_plan(spark):
    return (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )


def test_sibling_thread_plans_adaptively_during_posture_action(spark):
    """While thread A sits inside a posture action, a sibling thread
    compiling on the parent session still plans with AQE."""
    in_action = threading.Event()
    sibling_done = threading.Event()
    seen: dict = {}

    def _postured():
        p = posture(_shuffle_plan(spark))
        seen["posture_plan"] = _physical(p)
        in_action.set()
        assert sibling_done.wait(timeout=30)
        return sorted(p.collect())

    def _sibling():
        assert in_action.wait(timeout=30)
        try:
            seen["sibling_plan"] = _physical(_shuffle_plan(spark))
        finally:
            sibling_done.set()

    t = threading.Thread(target=_sibling)
    t.start()
    rows = _postured()
    t.join(timeout=60)
    assert not t.is_alive()
    assert "AdaptiveSparkPlan" not in seen["posture_plan"]
    assert "AdaptiveSparkPlan" in seen["sibling_plan"]
    assert rows == sorted(_shuffle_plan(spark).collect())


def test_posture_applies_inside_overlap_build(spark):
    """A posture action in an ``overlap_build`` chain plans without AQE
    while the sibling chain stays adaptive."""
    postured, plain = overlap_build(
        lambda: _physical(posture(_shuffle_plan(spark), micro(3))),
        lambda: _physical(_shuffle_plan(spark)),
        workers=2,
    )
    assert "AdaptiveSparkPlan" not in postured
    assert "AdaptiveSparkPlan" in plain


def test_parent_conf_untouched_by_posture_action(spark):
    before = spark.conf.getAll
    p = posture(_shuffle_plan(spark), {**micro(3), **SCALAR})
    assert p.sparkSession.conf.get("spark.sql.shuffle.partitions") == "3"
    assert p.count() == 7
    assert spark.conf.getAll == before
    with pytest.raises(Exception, match="posture-boom"):
        posture(spark.range(3)).select(
            F.raise_error(F.lit("posture-boom"))
        ).collect()
    assert spark.conf.getAll == before
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_scope_isolation(spark):
    """A frame kept inside a chain scope survives another thread's
    default-scope retire while the chain's scopes are open; at exit it
    moves to the caller's scope unreleased, and the sweep drops it."""
    release_checkpoints()  # clean slate
    scoped: dict = {}

    def _chain():
        dfx = _keep_cache(spark.range(100).withColumn("v", F.lit(1)))
        dfx.count()
        scoped["df"] = dfx

    with _chain_scopes() as chain:
        t = threading.Thread(target=chain(_chain))
        t.start()
        t.join(timeout=60)
        assert "df" in scoped
        assert scoped["df"].storageLevel.useMemory
        # a DEFAULT-scope operator entry (what a concurrent sink batch
        # does) must not see the chain's frame
        _retire_scope()
        assert scoped["df"].storageLevel.useMemory
    assert scoped["df"].storageLevel.useMemory  # handed over, not freed
    release_checkpoints()
    assert not scoped["df"].storageLevel.useMemory


def test_default_scope_retire_still_works(spark):
    release_checkpoints()
    dfx = _keep_cache(spark.range(10))
    assert dfx.storageLevel.useMemory
    _retire_scope()
    assert not dfx.storageLevel.useMemory


def test_overlap_chains_isolated_from_sibling_retire(spark):
    """Chain A's operator-entry retire, run between two of chain B's
    keeps, leaves chain B's frames persisted; after ``overlap_build``
    the caller's next boundary retires them."""
    release_checkpoints()
    b_kept = threading.Event()
    a_retired = threading.Event()

    def _chain_a():
        assert b_kept.wait(timeout=60)
        _retire_scope()
        a_retired.set()

    def _chain_b():
        first = _keep_cache(spark.range(50))
        first.count()
        b_kept.set()
        assert a_retired.wait(timeout=60)
        second = _keep_cache(spark.range(60))
        second.count()
        return first, second

    _, frames = overlap_build(_chain_a, _chain_b, workers=2)
    assert all(f.storageLevel.useMemory for f in frames)
    _retire_scope()
    assert not any(f.storageLevel.useMemory for f in frames)


def test_overlap_residency_stays_flat(spark):
    """Six q43-style iterations with no global sweep: each is an
    ``overlap_build`` of two chains that keep frames, then one
    default-scope retire. Persisted-RDD residency does not grow from
    iteration to iteration."""
    release_checkpoints()
    jsc = spark.sparkContext._jsc

    def _chain(n, i):
        # a fresh plan per iteration, as q43's frames sit on fresh
        # checkpoints: an identical plan would reuse the cached entry
        def build():
            a = _keep_cache(spark.range(n).withColumn("v", F.lit(i)))
            a.count()
            b = _keep_cache(a.where(F.col("id") % 2 == 0))
            b.count()
            return b

        return build

    built, after = [], []
    for i in range(6):
        x, y = overlap_build(_chain(100, i), _chain(200, i), workers=2)
        assert x.unionByName(y).count() == 150
        built.append(jsc.getPersistentRDDs().size())
        _retire_scope()
        after.append(jsc.getPersistentRDDs().size())
    assert built[5] == built[1] and after[5] == after[1], (built, after)
    assert built[1] >= after[1] + 4  # the chains' frames were resident


class _Frame:
    """Stand-in for a DataFrame: the lifetime registry only persists and
    unpersists what it holds. Pure Python, so threads interleave at
    bytecode granularity instead of queueing on JVM round trips."""

    persisted = False

    def persist(self, *_):
        self.persisted = True
        return self

    def unpersist(self, *_):
        self.persisted = False
        return self


def test_cache_registry_release_race():
    """The sweep running while other threads keep, retire and hand
    chain scopes over: no thread pops a list another thread just
    emptied (IndexError), no frame lands in a list the sweep already
    dropped, and the final sweep leaves nothing persisted."""
    release_checkpoints()
    frames: list = []
    errors: list = []
    stop = threading.Event()

    def _round():
        frames.append(_keep_cache(_Frame()))
        frames.append(_keep_cache(_Frame()))
        _retire_scope()
        frames.append(_keep_cache(_Frame()))

    def _worker(scoped: bool):
        try:
            for _ in range(2000):
                if scoped:
                    with _chain_scopes() as chain:
                        chain(_round)()
                else:
                    _round()
        except Exception as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    def _sweeper():
        while not stop.is_set():
            try:
                release_checkpoints()
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)

    workers = [
        threading.Thread(target=_worker, args=(i % 2 == 1,))
        for i in range(4)
    ]
    sweepers = [threading.Thread(target=_sweeper) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often: widen the race
    try:
        for t in sweepers + workers:
            t.start()
        for w in workers:
            w.join(timeout=120)
        stop.set()
        for t in sweepers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in sweepers + workers)
    release_checkpoints()
    assert not errors, errors[:3]
    assert len(frames) == 4 * 2000 * 3
    assert not [f for f in frames if f.persisted]
