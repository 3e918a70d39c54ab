"""In-memory span tracing from outside the program.

Spans nest run → pass → op → core.build / core.exec → wrapped public
layer calls (``mutation``, ``operators``, ``streaming``) → Catalyst
phases and Spark jobs. Layer calls are traced by swapping each public
function (and each public ``Base`` write method) for a wrapper while a
traced pass runs; the originals are put back afterwards. Catalyst phases
and jobs arrive after the fact from the status probes and are parented
by time containment.

A span's self time is its duration minus the part of it its children
cover. Under ``overlap_build`` sibling chains run at once, so self times
of one op can sum to more than its wall time.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager

#: Base methods that write (the reference's write surface); reads such as
#: ``table``/``time_machine``/``fetch_logs`` are left unwrapped.
BASE_WRITE_METHODS = (
    "from_frame from_df create_table drop_table copy_table set_column "
    "set_column_from_df clear_column update_column loc_write append upsert "
    "delete_rows add_column rename_column drop_column update_column_meta "
    "add_select_options compact vacuum checkpoint"
).split()

#: Package prefix → layer name for wrapped module-level functions.
LAYER_PACKAGES = {
    "sea_serpent_spark.operators": "operators",
    "sea_serpent_spark.streaming": "streaming",
}

_TOL = 0.002  # job and phase times are whole milliseconds


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.recording = False

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _new(self, name: str, layer: str, start: float, end: float | None,
             parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "parent": parent, "name": name, "layer": layer,
                "start": start, "end": end,
                "thread": threading.current_thread().name, **attrs,
            })
        return sid

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Open a span under the caller's innermost open span; a worker
        thread's first span hangs under the main thread's innermost."""
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        sid = self._new(name, layer, time.time(), None, parent, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def attach(self, root: int, leaves: list[tuple]) -> None:
        """Attach finished intervals ``(name, layer, start, end, attrs)``
        (jobs, Catalyst phases) each to the innermost open-and-closed
        span of ``root``'s subtree that contains it."""
        hosts = [
            s for s in self.subtree(root)
            if s["end"] is not None and s["layer"] not in ("spark.job", "catalyst")
        ]
        for name, layer, start, end, attrs in leaves:
            parent, best = root, None
            for s in hosts:
                if s["start"] - _TOL <= start and end <= s["end"] + _TOL:
                    dur = s["end"] - s["start"]
                    if best is None or dur < best:
                        parent, best = s["id"], dur
            self._new(name, layer, start, end, parent, **attrs)

    def seal(self, root: int) -> None:
        """Close ``root``'s subtree: spans recorded from now on are not in it."""
        self.spans[root]["last"] = len(self.spans)

    def subtree(self, root: int) -> list[dict]:
        """``root`` and every span recorded after it until it was sealed
        (ops run one at a time, so an op's spans are one id range)."""
        return self.spans[root:self.spans[root].get("last", len(self.spans))]

    # -- wrapping ------------------------------------------------------
    def _wrapper(self, orig, name: str, layer: str):
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.recording:
                return orig(*args, **kwargs)
            with tracer.span(name, layer):
                return orig(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the public layer entry points of the loaded package."""
        targets: dict[int, tuple[object, object]] = {}
        for modname, mod in list(sys.modules.items()):
            layer = next(
                (ly for pkg, ly in LAYER_PACKAGES.items() if modname.startswith(pkg)),
                None,
            )
            if layer is None or mod is None:
                continue
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    targets[id(fn)] = (
                        fn, self._wrapper(fn, f"{layer}.{attr}", layer)
                    )
        # rebind every module-level alias (``from .util import f``)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("sea_serpent_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patches.append((mod, attr, val))
        from sea_serpent_spark.mutation.store import Base

        for meth in BASE_WRITE_METHODS:
            orig = Base.__dict__[meth]
            setattr(Base, meth, self._wrapper(orig, f"mutation.{meth}", "mutation"))
            self._patches.append((Base, meth, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → self time (duration minus the union its children cover)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_times(tracer: Tracer, root: int) -> dict[str, float]:
    """Self time per layer over one span's subtree."""
    spans = tracer.subtree(root)
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out
