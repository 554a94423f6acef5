"""In-memory spans recorded from the benchmark's side of each call into a
layer, and the wrappers that put them around the program's public
functions without editing it.

A span has a name, a start, an end, the span that caused it and the run id
shared by every span of the run.  While a span is open, Spark jobs started
from the driver thread carry the job group ``<run id>:<span id>``, so the
counter reader can give each job to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, run_id: str, enabled: bool,
                 set_group: Callable[[str | None, str], None] | None = None):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._set_group = set_group

    def group_of(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "name": name, "start": time.time(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._set_group:
            self._set_group(self.group_of(rec["id"]), name)
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._set_group:
                parent = self._stack[-1] if self._stack else None
                self._set_group(
                    None if parent is None else self.group_of(parent),
                    "" if parent is None else self.spans[parent]["name"])

    def wrap(self, owner: object, attr: str, name: str,
             on_done: Callable[[str, float, bool], None] | None = None
             ) -> Callable[[], None]:
        """Replace ``owner.attr`` (on a module, class or instance) with a
        version that runs inside a span named ``name`` and reports its
        duration and success to ``on_done`` whether or not spans are
        recorded.  Returns the function that puts the original back."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0, ok = time.perf_counter(), False
            try:
                with self.span(name):
                    out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                if on_done:
                    on_done(name, time.perf_counter() - t0, ok)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, fn)

    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def innermost_at(self, t: float) -> int | None:
        """The deepest span open at wall-clock time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                best = s["id"]  # later-opened spans are deeper or later
        return best

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       **(extra or {})}, f, indent=1, default=str)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
