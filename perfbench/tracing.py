"""In-memory span recorder and the per-layer self-time ledger.

A span is (id, name, parent, start, end).  A span's layer is its name
without the last dotted part (``kernel.dom.parse_html`` belongs to
``kernel.dom``).  Self time is a span's duration minus the time its child
spans cover, so the self times of every span in a tree add up to the
root's duration; the ledger reports how much of that the layers explain.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def paused(self, pause: bool = True):
        """Record no spans inside this block (when ``pause``)."""
        enabled = self.enabled
        self.enabled = enabled and not pause
        try:
            yield
        finally:
            self.enabled = enabled

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Layer → summed self time (seconds)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        ledger: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].rsplit(".", 1)[0]
            ledger[layer] = ledger.get(layer, 0.0) + (
                s["end"] - s["start"] - child_time[s["id"]]
            )
        return ledger

    def write(self, path: str, root_layer: str) -> dict:
        """Write every span and the self-time table as JSON; return the
        table with the traced wall and the share the layers cover."""
        ledger = self.self_times()
        roots = [s for s in self.spans if s["parent"] is None]
        wall = sum(s["end"] - s["start"] for s in roots)
        layers = sum(v for k, v in ledger.items() if k != root_layer)
        table = {
            "wall_s": wall,
            "self_s": dict(sorted(ledger.items(), key=lambda kv: -kv[1])),
            "layers_over_wall": layers / wall if wall else 0.0,
        }
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ledger": table}, f, indent=1)
        return table
