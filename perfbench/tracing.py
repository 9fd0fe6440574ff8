"""Spans and per-layer counters, recorded around calls into the package.

The tracer never reaches inside the package: it wraps public functions
(``read_sf_table`` as every registry module bound it, the pipelines'
``write_staged``) for the length of a traced run and opens spans around
the calls the benchmark itself makes; ``run.op_counters`` then counts a
Spark job toward the spans whose interval holds its submission time.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_times


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """A span under the current one; a no-op while disabled."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        ``unwrap_all``; also rebinds every package module that imported
        the same function by name."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(span_name):
                return orig(*a, **kw)

        targets = [owner] + [
            m
            for m in list(sys.modules.values())
            if m is not None
            and m is not owner
            and getattr(m, "__name__", "").startswith("advanced_etl_pipelines_spark")
            and getattr(m, attr, None) is orig
        ]
        for t in targets:
            setattr(t, attr, wrapped)
            self._patched.append((t, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            t, attr, orig = self._patched.pop()
            setattr(t, attr, orig)

    def layer_self_time(self) -> dict[str, float]:
        """Summed self time per span name over the whole run."""
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += st[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
