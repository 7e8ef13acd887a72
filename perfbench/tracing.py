"""In-memory spans recorded around calls into the package.

A span is (name, start, end, parent, run id).  Spans live in memory
while the benchmark runs and are written out once at the end.  The
benchmark records them from its own files only: ``Tracer.wrap``
replaces a public name on a module or class with a timing wrapper and
``Tracer.restore`` puts the original back.
"""

from __future__ import annotations

import functools
import json
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    def open(self, name: str) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": perf_counter(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        return rec

    def close(self, rec: dict) -> None:
        if not self._stack or self._stack[-1] is not rec:
            raise RuntimeError(f"span {rec['name']} closed out of order")
        rec["end"] = perf_counter()
        self._stack.pop()

    def top(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    def wrap(self, owner, attr: str, name: str, *, before=None, after=None, only_under=None):
        """Time every call of ``owner.attr`` as a span called ``name``.

        ``before(args, kwargs)`` runs ahead of the span, ``after(result)``
        after the call; with ``only_under`` set, calls made while another
        span than ``only_under`` is innermost pass through untimed (so a
        helper called from inside one phase is not counted as a second
        phase)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if only_under is not None and self.top() != only_under:
                return orig(*args, **kwargs)
            if before is not None:
                before(args, kwargs)
            rec = self.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(rec)
            if after is not None:
                after(result)
            return result

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``restore``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per name: span time minus the time of its direct children
        (spans nest strictly on one thread, so children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def dump(self, path) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
