"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public functions: ``install`` replaces bound methods on one
``CDCEngine`` instance (and its ``SnapshotTable``) with timing wrappers,
so the program under test is unchanged. Each span keeps its name, start,
end, parent span and the run id of the operation that caused it (one
epoch or one read); spans stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id: str = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, obj, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``obj.attr`` as span ``name``; ``on_result(rec,
        result)`` may attach counts to the span."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(obj, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -- derived views -------------------------------------------------

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                out.setdefault(rec["parent"], []).append(rec)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that child spans
        cover (union of the children's intervals, clipped to the span)."""
        kids = self.children()
        out: dict[int, float] = {}
        for rec in self.spans:
            lo, hi = rec["start"], rec["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(rec["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], lo), min(c["end"], hi)
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[rec["id"]] = (hi - lo) - covered
        return out

    def subtree(self, root_id: int) -> list[dict]:
        kids = self.children()
        out, todo = [], [root_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c["id"] for c in kids.get(sid, []))
        return out


def install(tracer: Tracer, engine) -> None:
    """Wrap the engine's and its table's public entry points in spans."""
    table = engine.table

    def files_written(rec, files):
        rec["files"] = len(files)
        rec["bytes"] = sum(f.bytes for f in files)

    tracer.wrap(engine, "plan_epochs", "engine.plan_epochs")
    tracer.wrap(engine, "run_epoch", "engine.run_epoch")
    tracer.wrap(table, "stage_delta_grouped", "table.stage", files_written)
    tracer.wrap(table, "stage", "table.stage_base", files_written)
    tracer.wrap(table, "commit", "table.commit")
    tracer.wrap(table, "current_snapshot", "table.current_snapshot")
    tracer.wrap(table, "delta_depth", "table.delta_depth")
    tracer.wrap(table, "compact_groups", "table.compact")
    tracer.wrap(table, "read", "table.read_plan")
    tracer.wrap(table, "read_key", "table.read_key_plan")
    tracer.wrap(table, "read_updated_since", "table.since_plan")
    tracer.wrap(engine, "changes", "changes.plan")
