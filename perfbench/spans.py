"""Spans recorded by the benchmark at each layer boundary it calls.

Only the traced run records anything: spans live in memory and are
written out once, at the end. Streaming triggers are not timed by the
benchmark itself; their spans come from the engine's own
``StreamingQueryProgress`` events, collected by `ProgressListener`, with
the ``durationMs`` phases laid out as child spans.
"""

from __future__ import annotations

import json
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

#: order in which a micro-batch runs its durationMs phases
PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    """In-memory span store; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.record_s = 0.0

    def add(self, name: str, start: float, end: float, *, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        t = time.perf_counter()
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, **attrs})
        self.record_s += time.perf_counter() - t
        return len(self.spans) - 1

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["name"]] = out.get(s["name"], 0.0) + 1000.0 * (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event of the queries it sees, per query name.

    Runs on the listener-bus thread; it only appends plain dicts."""

    def __init__(self) -> None:
        self.ids: dict[str, str] = {}  # query id -> name
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.ids[str(event.id)] = event.name

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "name": p.name,
                "batch": p.batchId,
                "start": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [
                    {
                        "commit_ms": s.commitTimeMs,
                        "rows": s.numRowsTotal,
                        "mem_bytes": s.memoryUsedBytes,
                        "dropped": s.numRowsDroppedByWatermark,
                    }
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryTerminated(self, event) -> None:
        pass


def trigger_spans(tracer: Tracer, progress: list[dict], hop_of, files_of=None, parent_of=None) -> None:
    """One span per trigger, with its phases as sequential child spans.
    ``files_of(name, batch)`` names the tick files the batch carried;
    ``parent_of(start)`` the span a trigger ran inside, if any."""
    for p in progress:
        hop = hop_of(p["name"])
        if hop is None:
            continue
        start = p["start"]
        attrs = {"batch": p["batch"], "rows": p["rows"]}
        if files_of is not None:
            attrs["files"] = files_of(p["name"], p["batch"])
        parent = tracer.add(
            f"streaming.{hop}.trigger",
            start,
            start + p["ms"].get("triggerExecution", 0) / 1000.0,
            parent=parent_of(start) if parent_of else None,
            **attrs,
        )
        t = start
        for ph in PHASES:
            ms = p["ms"].get(ph)
            if ms:
                tracer.add(f"streaming.{hop}.{ph}", t, t + ms / 1000.0, parent=parent)
                t += ms / 1000.0
