"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, the span that was open when it
began (its parent), the op it belongs to and whether it belongs to a
single-layer probe rather than to the ops. Spans stay in memory and are
written as one JSON file when the run ends. A layer's self time is its
spans' durations minus the part of each covered by child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.probing = False  # set while the harness runs the probes
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op, "probe": self.probing,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(
                [s for s in self.spans if not s["probe"]])}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer; the layer of ``a.b`` is ``a``.
    Spans run one at a time, so a span's children cover the sum of
    their durations."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                    + s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + own
    return out
