"""In-memory span recorder for the benchmark's traced mode.

A span is (id, name, parent, run id, start, end) plus free-form counts.
Spans nest on one thread, so the parent is the innermost open span.
Spans stay in memory and are written out once, when the run ends.

When a span carries a ``group``, the Spark job group is set to it for the
span's duration, so every job the layer submits can be attributed to it
(``sparkstats.job_stats``) and is labelled in the Spark UI.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **counts):
        """Record ``name`` around the body; yields the span record so
        callers can read its times or add counts."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **counts,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self._set_group(group)
            self._groups.append(group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            edge = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def subtree_self_sum(self, root_id: int) -> float:
        """Sum of self times over a span and all its descendants; equals
        the root's duration when children nest inside their parents."""
        ids = {root_id}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        sub = Tracer(self.run_id)
        sub.spans = [s for s in self.spans if s["id"] in ids]
        return sum(sub.self_times().values())

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
