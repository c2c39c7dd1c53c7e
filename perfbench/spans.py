"""Spans recorded by the benchmark's own code around its calls into the
program.

Driver-side spans live in memory in a ``Tracer``. Executor-side spans
(the fetch body and the page hooks run in Python workers) are appended
to one ``<pid>.jsonl`` file per worker process under the run's span
directory and merged when the run ends. Times are epoch milliseconds so
they line up with the Spark event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from pathlib import Path


def now_ms() -> float:
    return time.time() * 1e3


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": now_ms(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = now_ms()
            if self.enabled:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def write_worker_spans(span_dir: str, recs: list[dict]) -> None:
    """Append span records from inside a Python worker."""
    if not recs:
        return
    path = os.path.join(span_dir, f"{os.getpid()}.jsonl")
    with open(path, "a") as f:
        f.write("".join(json.dumps(r) + "\n" for r in recs))


def load_worker_spans(span_dir) -> list[dict]:
    out: list[dict] = []
    for p in sorted(Path(span_dir).glob("*.jsonl")):
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out
