"""In-memory spans for the traced run.

Spans come only from wrappers this module installs around public calls of
the program at run time, and from the harness's own ``span`` blocks. Each
span records its name, start, end, parent span and operation id. They stay
in memory until the run ends and are then written out as JSON lines.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, **fields: Any) -> Iterator[dict[str, Any]]:
        record = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **fields,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function, method or classmethod) with a
        version that runs inside a span; ``unwrap_all`` puts it back."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = original.__func__ if isinstance(original, classmethod) else original
        tracer = self

        @functools.wraps(func)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with tracer.span(name):
                return func(*args, **kwargs)

        setattr(owner, attr, classmethod(traced) if isinstance(original, classmethod) else traced)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def self_times(self, within: str | None = None) -> dict[str, float]:
        """Seconds per span name, each span counted as its duration minus
        the part of it that its child spans cover. With ``within``, only
        spans that have an ancestor of that name count."""
        children: dict[int, list[dict[str, Any]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if within is not None and not self._has_ancestor(s, within):
                continue
            covered, reach = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def _has_ancestor(self, span: dict[str, Any], name: str) -> bool:
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            if span["name"] == name:
                return True
        return False

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s["name"]] += 1
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
