"""In-memory spans for the traced run.

A span records a name, wall-clock start and end (epoch seconds, so it
lines up with the Spark event log), the operation it belongs to and the
span that caused it. Spans are kept in memory and written out once at
the end. ``wrap`` replaces a public method or module function with a
timing shim; ``uninstall`` puts every original back. Wrappers are only
installed by the traced run; the untraced run uses ``Tracer(False)``,
whose ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op_root: dict | None = None
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """Root span of one benchmark operation. Spans opened on other
        threads while it is open (e.g. the streaming sink's callback
        thread) become its children."""
        with self.span(name, **attrs) as root:
            self._op_root = root
            try:
                yield root
            finally:
                self._op_root = None

    @contextlib.contextmanager
    def paused(self):
        """Record no spans inside (the benchmark's own metadata probes)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        if rec["op"] is None:
            rec["op"] = rec["id"]
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def shim(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, shim)
        self._restore.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def layer_totals(spans: list[dict], name: str) -> dict:
    """calls, total seconds and total self seconds of spans named ``name``."""
    own = self_times(spans)
    hits = [s for s in spans if s["name"] == name]
    return {
        "calls": len(hits),
        "s": sum(s["end"] - s["start"] for s in hits),
        "self_s": sum(own[s["id"]] for s in hits),
    }
