"""In-memory span tree for the traced run.

A span wraps one call into a layer. It records its start and end, the span
that caused it, and the py4j round trips the driver made while it was
open. Each span runs under its own Spark job group, so the event log
attributes every job and task to the innermost open span. The untraced
run uses :data:`OFF`, whose spans record nothing and touch no job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0  # includes the children's
    child_time: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - self.child_time


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._calls = 0
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self._calls += 1
            return send(*args, **kwargs)

        # Instance attribute: every JavaObject of this session calls
        # through this client object, so this sees each round trip.
        client.send_command = counting_send

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent and parent.id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.id, name)
        calls0 = self._calls
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            # the group switch below is itself a round trip, left out here
            s.py4j_calls = self._calls - calls0
            if parent is not None:
                parent.child_time += s.dur
                self._sc.setJobGroup(parent.id, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.self_time
        return out

    def dump(self, out) -> None:
        """Write every span as one JSON line to the text stream ``out``."""
        for s in self.spans:
            out.write(json.dumps(asdict(s)) + "\n")


class _Off:
    """The untraced run's tracer: spans are no-ops."""

    spans: list = []

    @contextmanager
    def span(self, name: str):
        yield None


OFF = _Off()
