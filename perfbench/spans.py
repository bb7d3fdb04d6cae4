"""In-memory span recorder for the traced benchmark run.

A span is (id, name, start, end, parent id, batch id, tags). Spans are
kept in a list and written once, when the run ends, so recording costs
one tuple append. The recorder times its own bookkeeping; that self
time is what tracing adds to a run, because every span wraps a call
the untraced run makes anyway.
"""

from __future__ import annotations

import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.self_s = 0.0

    def add(self, name, start, end, parent=None, batch_id=None, **tags):
        """Record a finished span; return its id (None when disabled)."""
        if not self.enabled:
            return None
        t = time.perf_counter()
        sid = len(self.spans)
        self.spans.append((sid, name, start, end, parent, batch_id, tags))
        self.self_s += time.perf_counter() - t
        return sid

    def write(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "batch_id", "tags")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")
