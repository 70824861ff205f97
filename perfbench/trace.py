"""In-memory spans for the traced run.

A span records name, start, end, parent span and run id.  Spans stay in
memory and are written once, when the benchmark ends.  Because Spark is lazy,
the workloads force a layer's output inside its span (see ``Tracer.force``),
so a span covers the work of that layer and of any un-forced layer below it;
a layer's self time is its span minus the time covered by its child spans.

The untraced run uses ``NullTracer``: the same call sites, no forcing, no
records.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def force(self, df):
        return df


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @staticmethod
    def force(df):
        """Materialize a DataFrame at a layer boundary and return the
        materialized frame, so the next layer's span does not redo it."""
        return df.localCheckpoint(eager=True)

    # -- reading the spans ------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, name: str) -> float:
        """Sum over spans called ``name`` of duration minus the union of the
        intervals their direct children cover."""
        total = 0.0
        for idx, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == idx
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
            total += (s["end"] - s["start"]) - covered
        return total

    def dump(self, path: str, layers: dict) -> None:
        """Write the spans, with the per-layer metrics read from them."""
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "layers": layers}, fh)
