"""Live per-stage progress stream (S5) — the SignalR notification hub analog
(NotificationHub.cs:1-4; SendProgress at DuplicateByHashFinder.cs:146-171).

The reference pushes (stage, processed-count) events DURING the run. On
Spark the equivalent live signal is the pipeline-stage events emitted by
``pipeline.run`` as each stage's action completes (stage name, wall ms,
optional row count) — with or without a CheckpointStore.

Events are appended to an in-memory list and optionally streamed to a
callback; ``CheckpointStore.save`` additionally persists them (checkpoint.py
counters). A store-less ``run()`` therefore still produces a live progress
stream (VERDICT r01 gap S5).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class ProgressEvent:
    stage: str
    kind: str            # "begin" | "end"
    t: float             # unix seconds
    wall_ms: int | None = None
    rows: int | None = None


@dataclass
class ProgressTracker:
    """Collects live events; pass ``on_event`` to stream them elsewhere
    (log line, socket, metrics sink)."""

    on_event: Callable[[ProgressEvent], None] | None = None
    events: list[ProgressEvent] = field(default_factory=list)

    def emit(self, ev: ProgressEvent) -> None:
        self.events.append(ev)
        if self.on_event is not None:
            self.on_event(ev)

    def begin(self, stage: str) -> float:
        t = time.time()
        self.emit(ProgressEvent(stage=stage, kind="begin", t=t))
        return t

    def end(self, stage: str, t0: float, rows: int | None = None) -> None:
        t = time.time()
        self.emit(
            ProgressEvent(
                stage=stage, kind="end", t=t,
                wall_ms=int((t - t0) * 1000), rows=rows,
            )
        )

    def stage_walls(self) -> dict[str, int]:
        return {
            e.stage: e.wall_ms for e in self.events
            if e.kind == "end" and e.wall_ms is not None
        }
