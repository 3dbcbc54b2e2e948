"""In-memory spans around the benchmark's calls into each engine layer.

A span is (name, start, end, parent, op). Spans stay in a list until
``write`` dumps them once, at the end of the run, with each span's self time
(its duration minus the part its child spans cover).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "op": op, "parent": parent, "start": time.perf_counter(), "end": None}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def durations(self, op: str) -> dict:
        """Name -> summed duration of the spans of ``op``."""
        out: dict = {}
        for s in self.spans:
            if s["op"] == op:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self) -> list:
        """Each span's duration minus the union of its children's intervals."""
        children: dict = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(i)
        out = []
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(i, []), key=lambda c: self.spans[c]["start"]):
                lo, hi = max(self.spans[c]["start"], reach), self.spans[c]["end"]
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        origin = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            dict(
                s,
                start=s["start"] - origin,
                end=s["end"] - origin,
                self_s=self_s,
            )
            for s, self_s in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=rows), fh, indent=1)
