"""Core dataflow types (reference: internal/pipeline/types.go).

``Batch`` is the unit flowing through the pipeline: a contiguous cursor
range ``[start, end]`` plus per-batch template vars (types.go:17-23 —
``Batch{Number, Conn, Start, End, Vars}``; the per-batch Conn becomes a
per-batch view-name namespace in Spark, SURVEY.md §7.2). Batches order
by number, so the sequencer keeps its reorder buffer (types.go:27-35) as
a ``heapq`` list.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Batch:
    number: int          # monotone sequence number (types.go:18)
    start: int           # inclusive cursor range start
    end: int             # inclusive cursor range end
    vars: dict = field(default_factory=dict)

    def __lt__(self, other: "Batch") -> bool:
        return self.number < other.number

    @property
    def items(self) -> int:
        return self.end - self.start + 1


# Sentinel signalling end-of-stream on an inter-component queue (the analog
# of Go's channel close; every producer enqueues CLOSE exactly once).
CLOSE = object()
