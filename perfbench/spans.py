"""In-memory span and counter recorder for the traced run.

A span is (name, start, end, parent, run id); spans of one traced
iteration share the run id.  Nothing is written until ``dump`` at the
end of the run, so recording costs two clock reads and a list append.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self.run_id: str | None = None
        self._stack: list[int] = []

    def begin(self, run_id: str) -> None:
        self.run_id = run_id
        self._stack = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts.append({"name": name, "run": self.run_id, "value": value})

    def durations(self, name: str) -> list[float]:
        """Per run id: the summed duration of its spans called ``name``."""
        return self._per_run((s["run"], s["end"] - s["start"]) for s in self.spans if s["name"] == name)

    def values(self, name: str) -> list[float]:
        """Per run id: the sum of its counts called ``name``."""
        return self._per_run((c["run"], c["value"]) for c in self.counts if c["name"] == name)

    @staticmethod
    def _per_run(pairs) -> list[float]:
        out: dict = {}
        for run, v in pairs:
            out[run] = out.get(run, 0.0) + v
        return list(out.values())

    def self_times(self, name: str) -> list[float]:
        """Per span called ``name``: its duration minus the part of its
        interval its direct children cover."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sorted(
                (c["start"], c["end"])
                for c in self.spans
                if c["run"] == s["run"] and c["parent"] == name
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s["end"] - s["start"]) - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f, indent=1)
