"""Lifetime of persisted state: one scoped registry for every frame an
operator persists and every local checkpoint it cuts.

Each entry records whether its data is *recomputable*:

- a pair operator's cached frame (:func:`_keep_cache`) is. The operator
  returns a lazy plan over it, so it cannot be unpersisted before the
  caller materializes the result; instead the next operator entry in the
  same scope retires it (:func:`_retire_scope`), bounding live cache to
  one call's worth per scope.
- a local checkpoint (:func:`tracked_checkpoint`) is not: released, any
  frame still reading it fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
  Nor is a pin (:func:`_pin`), whose recompute would resample its range
  boundaries. Both are freed only by ``release()``/:func:`release_all`
  or by the quiesce sweep (:func:`_sweep`). Left to JVM GC, checkpoint
  blocks piled up across a session (round-4 bench: a 7x warm-run q61).

Threads share the default scope (key ``None``), so sequential callers
and streaming foreachBatch batches retire each other's frames in call
order. ``overlap_build`` runs each chain in a private scope
(:func:`_chain_scopes`) and, once the chains finish, moves their entries
to the caller's scope, which retires them at its next boundary.

One lock guards the registry; releases run outside it, on entries
swapped out under it.
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# Releases swallow ONLY "the JVM is gone" errors: anything else (a bug in
# the id bookkeeping, a wrong handle) surfaces instead of silently
# leaking blocks.
try:
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover - py4j ships with pyspark
    _Py4JError = ()
_DEAD_JVM_ERRORS = (_Py4JError, ConnectionError, EOFError, OSError)

_LOCK = threading.Lock()
_SCOPES: dict = {}  # scope key (None: the shared default) → [Handle]
_TLS = threading.local()


class Handle:
    """Release handle for one registry entry: a persisted frame
    (``df``), or the persisted RDD(s) behind one local checkpoint
    (``rdd_ids``)."""

    __slots__ = ("df", "jsc", "rdd_ids", "recomputable", "released")

    def __init__(self, df=None, jsc=None, rdd_ids=(), recomputable=True):
        self.df = df
        self.jsc = jsc
        self.rdd_ids = list(rdd_ids)
        self.recomputable = recomputable
        self.released = False

    def release(self) -> None:
        """Free the entry NOW (idempotent). A released checkpoint and
        anything lazily built on it become unusable: call only after
        downstream consumption."""
        _release([self])


def _register(handle: Handle) -> Handle:
    key = getattr(_TLS, "scope", None)
    with _LOCK:
        _SCOPES.setdefault(key, []).append(handle)
    return handle


def _free(handles: list) -> None:
    """Unpersist ``handles`` in order, with at most ONE
    ``getPersistentRDDs`` round trip for all their checkpoints. A handle
    is marked released only AFTER its blocks are freed, so a non-JVM
    error leaves it and the handles after it retryable (unpersist is
    idempotent)."""
    live = None
    for i, h in enumerate(handles):
        if h.released:
            continue
        try:
            if h.df is not None:
                h.df.unpersist(False)
            elif h.rdd_ids:
                if live is None:
                    live = h.jsc.getPersistentRDDs()
                for rid in h.rdd_ids:
                    r = live.get(rid)
                    if r is not None:
                        r.unpersist(False)
        except _DEAD_JVM_ERRORS:
            # a dead or restarted JVM has nothing left to free
            for rest in handles[i:]:
                rest.released = True
            return
        h.released = True


def _keep_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` as a recomputable entry of the calling thread's
    scope: it lives until the scope's next :func:`_retire_scope`."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _register(Handle(df))
    return df


def _pin(df: DataFrame) -> Handle:
    """Register an already-persisted frame that must NOT recompute (its
    sampled range boundaries would move): retires skip it, the sweep or
    its handle frees it."""
    return _register(Handle(df, recomputable=False))


def _retire_scope() -> None:
    """The pair-operator entry boundary: release the CURRENT scope's
    recomputable entries, newest first. Checkpoints and pins stay."""
    key = getattr(_TLS, "scope", None)
    with _LOCK:
        held = _SCOPES.pop(key, [])
        stay = [h for h in held if not h.recomputable]
        if stay:
            _SCOPES[key] = stay
    _free([h for h in reversed(held) if h.recomputable])


def _sweep() -> None:
    """Free every entry of every scope, checkpoints included.

    QUIESCE-POINT ONLY (between bench queries, after a pipeline's
    outputs are written): released checkpoints cannot recompute and
    released pins may recompute differently, so every frame produced by
    earlier operator calls must already be materialized. The registry is
    swapped out under the lock and released outside it."""
    with _LOCK:
        drained = list(_SCOPES.values())
        _SCOPES.clear()
    _free([h for held in drained for h in reversed(held)])


def release_all(handles) -> None:
    """Release a batch of handles with at most one ``getPersistentRDDs``
    JVM round trip (vs one per handle): for iterative operators that
    supersede a checkpoint every round and would otherwise pay a driver
    round trip inside the convergence loop. Released handles leave the
    registry."""
    _release(list(handles))


def _release(handles: list) -> None:
    """:func:`release_all`'s body, which ``Handle.release`` calls
    directly: a tracer that wraps the public functions then sees only
    the explicit batch releases."""
    handles = [h for h in handles if not h.released]
    if not handles:
        return
    _free(handles)
    gone = {id(h) for h in handles if h.released}
    with _LOCK:
        for key, held in list(_SCOPES.items()):
            held[:] = [h for h in held if id(h) not in gone]
            if not held:
                del _SCOPES[key]


@contextmanager
def _chain_scopes():
    """For ``overlap_build``: yields ``wrap(thunk)``, which runs
    ``thunk`` in a fresh private scope. At exit, after every chain has
    finished, each chain's entries move to the calling thread's scope.
    Not earlier: the caller's scope may be the shared default, which a
    sibling chain's streaming batches retire while it runs."""
    parent = getattr(_TLS, "scope", None)
    keys: list = []

    def wrap(thunk):
        def run():
            prev = getattr(_TLS, "scope", None)
            _TLS.scope = key = object()
            keys.append(key)
            try:
                return thunk()
            finally:
                _TLS.scope = prev

        return run

    try:
        yield wrap
    finally:
        with _LOCK:
            moved = [h for k in keys for h in _SCOPES.pop(k, [])]
            if moved:
                _SCOPES.setdefault(parent, []).extend(moved)


def tracked_checkpoint(
    df: DataFrame, storage_level=None, scalar_plan: bool = False
) -> tuple[DataFrame, Handle]:
    """``df.localCheckpoint(eager=True)`` + a release handle registered
    in the calling thread's scope (freed by the sweep if not released).

    The persisted RDD id is read directly off the returned frame's
    ``LogicalRDD`` plan node: exact attribution with zero extra JVM
    round trips, and safe under concurrent driver threads (no diffing of
    global state, which could attribute another thread's checkpoint and
    later release a LIVE one).

    ``scalar_plan=True`` (r14) runs the eager fill in the ``SCALAR``
    posture, for call sites whose plan is aggregation-only (the single
    shuffle carries partial-agg'd narrow rows), where AQE's per-exchange
    stage job is pure scheduler latency. Leave False for plans carrying
    joins or explicit wide repartitions AQE should re-plan. The returned
    frame is bound to ``df``'s own session."""
    from .util import posture, rebind

    src = posture(df) if scalar_plan else df
    out = rebind(
        src.localCheckpoint(eager=True)
        if storage_level is None
        else src.localCheckpoint(eager=True, storageLevel=storage_level),
        df.sparkSession,
    )
    try:
        # Dataset.localCheckpoint returns a LogicalRDD wrapping the
        # persisted internal RDD; its id is the unpersist target
        ids = [int(out._jdf.queryExecution().analyzed().rdd().id())]
    except _DEAD_JVM_ERRORS + (AttributeError,):
        # Unknown plan shape / connect mode: the handle becomes a no-op,
        # so blocks are freed only by JVM GC again, the exact
        # accumulation this registry exists to prevent. Say so loudly
        # instead of silently degrading.
        ids = []
        _log.warning(
            "tracked_checkpoint could not resolve the persisted RDD id "
            "from the plan (unexpected plan shape or connect mode); "
            "release() for this handle will be a no-op and checkpoint "
            "blocks will only be freed by JVM GC"
        )
    handle = Handle(
        jsc=df.sparkSession.sparkContext._jsc, rdd_ids=ids,
        recomputable=False,
    )
    return out, _register(handle)
