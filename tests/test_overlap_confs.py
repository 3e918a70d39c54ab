"""Plan-posture isolation and the thread-scoped pair-operator cache
registries.

``util.posture`` runs one action on its own session clone. These tests
pin what that buys over flipping the shared session's conf: a sibling
thread compiling on the parent keeps its adaptive plan, a posture action
inside an ``overlap_build`` chain still gets its posture, and the
parent's conf never changes, not even when the action raises.
"""

import sys
import threading
from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from sea_serpent_spark.operators.util import (
    SCALAR,
    micro,
    overlap_build,
    posture,
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


def test_cache_scope_isolation(spark):
    """Frames kept inside a cache_scope survive another thread's
    operator-entry retire; the global release_caches sweep still drops
    every scope."""
    from sea_serpent_spark.operators.dedup import (
        _keep_cache,
        _retire_scope_caches,
        cache_scope,
        release_caches,
    )

    release_caches()  # clean slate
    scoped: dict = {}

    def _chain():
        with cache_scope():
            dfx = _keep_cache(spark.range(100).withColumn("v", F.lit(1)))
            dfx.count()
            scoped["df"] = dfx

    t = threading.Thread(target=_chain)
    t.start()
    t.join(timeout=60)
    assert "df" in scoped
    assert scoped["df"].storageLevel.useMemory
    # a DEFAULT-scope operator entry (what a concurrent sink batch
    # does) must not see the scoped frame
    _retire_scope_caches()
    assert scoped["df"].storageLevel.useMemory
    # the quiesce sweep drops every scope, including finished ones
    release_caches()
    assert not scoped["df"].storageLevel.useMemory


def test_default_scope_retire_still_works(spark):
    from sea_serpent_spark.operators.dedup import (
        _keep_cache,
        _retire_scope_caches,
        release_caches,
    )

    release_caches()
    dfx = _keep_cache(spark.range(10))
    assert dfx.storageLevel.useMemory
    _retire_scope_caches()
    assert not dfx.storageLevel.useMemory


class _Frame:
    """Stand-in for a DataFrame: the cache registry only persists and
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
    """``release_caches`` sweeping while other threads keep and retire
    frames: no thread pops a list another thread just emptied
    (IndexError), no frame lands in a list the sweep already dropped,
    and the final sweep leaves nothing persisted."""
    from sea_serpent_spark.operators.dedup import (
        _keep_cache,
        _retire_scope_caches,
        cache_scope,
        release_caches,
    )

    release_caches()
    frames: list = []
    errors: list = []
    stop = threading.Event()

    def _worker(scoped: bool):
        try:
            for _ in range(2000):
                with cache_scope() if scoped else nullcontext():
                    frames.append(_keep_cache(_Frame()))
                    frames.append(_keep_cache(_Frame()))
                    _retire_scope_caches()
                    frames.append(_keep_cache(_Frame()))
        except Exception as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    def _sweeper():
        while not stop.is_set():
            try:
                release_caches()
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
    release_caches()
    assert not errors, errors[:3]
    assert len(frames) == 4 * 2000 * 3
    assert not [f for f in frames if f.persisted]
