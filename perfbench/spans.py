"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own code around its calls into
the program's layers; nothing in the program is edited.  `register`
names a module or class attribute that `install` swaps for a timing
wrapper; the engine sees a wrapped module attribute because it imports
its helpers inside each method call.

All times are epoch seconds (`time.time()`), so spans line up with the
millisecond timestamps of Spark's event log and Catalyst's phase
tracker.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from stats import exclusive_times


class Tracer:
    """Records (name, layer, start, end, parent) spans while enabled, and
    wraps the registered attributes while installed."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._specs: list[tuple] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str | None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job, a Catalyst
        phase) as a child of `parent`."""
        self.spans.append({"id": len(self.spans), "name": name, "layer": layer,
                           "parent": parent, "start": start, "end": end, **attrs})

    def register(self, owner, attr: str, metric: str, layer: str,
                 context_manager: bool = False) -> None:
        """Time every call of `owner.attr` as a span named `metric` while
        installed.  For a function returning a context manager, the span
        covers acquiring it and the managed block instead of the call."""
        self._specs.append((owner, attr, metric, layer, context_manager))

    def install(self) -> None:
        for owner, attr, metric, layer, is_cm in self._specs:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._cm_wrapper(orig, metric, layer) if is_cm
                    else self._wrapper(orig, metric, layer))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrapper(self, orig, metric: str, layer: str):
        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with self.span(metric, layer):
                return orig(*args, **kwargs)
        return timed

    def _cm_wrapper(self, orig, metric: str, layer: str):
        @functools.wraps(orig)
        @contextmanager
        def timed(*args, **kwargs):
            with self.span(metric, layer), orig(*args, **kwargs) as v:
                yield v
        return timed

    def self_times(self) -> dict[int, float]:
        """Each span's share of the traced time (`stats.exclusive_times`):
        its duration minus what its children cover."""
        return exclusive_times(self.spans)

    def layer_self_seconds(self) -> dict[str, float]:
        """Self time summed per layer; spans with no layer (op
        containers) are left out."""
        out: dict[str, float] = {}
        st = self.self_times()
        for s in self.spans:
            if s["layer"] is not None:
                out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]
