"""Spans and Spark job groups around calls into the engine's public API.

A `Tracer` wraps public functions and methods of the engine's modules
from the outside (the package itself is not modified): each call becomes
a span with a name, start, end and parent, and runs under its own Spark
job group `<span name>#<span id>`, so the event log attributes every job
to the innermost traced call that started it. Spans are kept in memory
and written out once, at exit.

With tracing off nothing is wrapped, and `span()` only yields.
`set_active` switches a tracer on and off between operations: it also
puts the wrappers in and takes them out, so an untraced operation runs
the engine's own callables.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import Counter

from eventlog import GROUP_PROP


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @staticmethod
    def group_of(span: dict) -> str:
        return f"{span['name']}#{span['id']}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        sc = self.sc  # None until the session exists
        if sc is not None:
            sc.setJobGroup(self.group_of(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            parent = self.spans[stack[-1]] if stack else None
            if sc is not None:
                sc.setLocalProperty(GROUP_PROP, self.group_of(parent) if parent else None)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, attrs=None, before=None) -> None:
        """Replace `owner.attr` (a module function, method, or classmethod)
        with a traced twin. `attrs(*args, **kwargs)` returns extra span
        fields; `before(*args, **kwargs)` runs first, for counters that
        read the call's arguments."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            extra = attrs(*args, **kwargs) if attrs is not None else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        twin = classmethod(traced) if is_cm else traced
        setattr(owner, attr, twin)
        self._patched.append((owner, attr, raw, twin))

    def set_active(self, on: bool) -> None:
        """Turn spans, job groups and the wrappers on or off."""
        self.enabled = on
        for owner, attr, raw, twin in self._patched:
            setattr(owner, attr, twin if on else raw)

    def unwrap_all(self) -> None:
        self.set_active(False)
        self._patched.clear()

    # ---------------------------------------------------------- queries
    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def subtree(self, root: dict) -> list[dict]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, fh)
