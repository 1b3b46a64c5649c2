"""In-memory spans around the benchmark's calls into the package.

A span is (name, start, end, parent, run id); times are seconds on
``time.perf_counter``. Spans are kept in memory and written out once, when
the run ends. A disabled tracer records nothing, so untraced runs pay one
attribute check per call site.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (a micro-batch and its phases)."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                 "start": start, "end": end, **attrs}
            )
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
