"""Wall-clock spans recorded around calls into the library's layers.

A span is ``(layer, kind, start_ms, end_ms, iteration)`` in epoch
milliseconds — the clock Spark's event log stamps job submissions with,
so the ledger can assign each job to the span it was submitted in.
``kind`` is ``"build"`` for the public call that returns a lazy
DataFrame and ``"exec"`` for the action that runs it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.records: list = []
        self.iteration = -1  # -1 = warm-up / setup, not measured

    @contextmanager
    def span(self, layer: str, kind: str):
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.records.append((layer, kind, t0, time.time() * 1000.0, self.iteration))

    def measured(self) -> list:
        return [r for r in self.records if r[4] >= 0]
