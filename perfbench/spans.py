"""In-memory spans for the traced run, written out when it ends."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans with a name, start, end, parent span and run id, each
    carrying the counts recorded at that boundary. Safe to use from the
    driver threads that submit concurrent sink writes."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **counts):
        s = {
            "run_id": self.run_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            "counts": dict(counts),
        }
        with self._lock:
            s["id"] = len(self.spans)
            self.spans.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()

    def duration(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=float) + "\n")
