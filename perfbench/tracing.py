"""Span tracer for the traced benchmark run.

The engine carries no tracing of its own, so the tracer wraps the public
function of each layer from outside (`install`) and restores it afterwards
(`uninstall`). A span is (id, name, layer, start, end, parent, op, n): `op`
is the benchmark operation it served, `n` an optional result size. Spans stay
in memory and are written out once, at the end of the run.

Parents come from a per-thread stack. `run_ingest` calls `merge_into` from
Spark's foreachBatch callback thread, whose stack is empty; such spans are
parented to the innermost span open on the operation's thread, so that the
streaming layer's self time excludes the merge it drives.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: (module path, owner attribute or None, function name, span name, layer)
WRAPPED = [
    ("forklift_spark.streaming.ingest", None, "run_ingest", "run_ingest", "streaming.ingest"),
    ("forklift_spark.streaming.ingest", None, "merge_into", "merge_into", "operators.merge"),
    ("forklift_spark.operators.merge", None, "merge_into", "merge_into", "operators.merge"),
    ("forklift_spark.operators.merge", None, "compact", "compact", "operators.merge"),
    ("forklift_spark.operators.merge", None, "select_compaction_candidates",
     "select_compaction_candidates", "operators.merge"),
    ("forklift_spark.lakette.table", "LaketteTable", "commit_version", "commit_version", "lakette.table"),
    ("forklift_spark.lakette.table", "LaketteTable", "plan_files", "plan_files", "lakette.table"),
    ("forklift_spark.lakette.table", "LaketteTable", "snapshot", "snapshot", "lakette.table"),
    ("forklift_spark.sqlfront", "SqlFrontend", "sql", "SqlFrontend.sql", "sqlfront"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.op: str | None = None
        self._op_stack: list[int] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        """Record one span; yields a dict the caller may set `n` on."""
        stack = self._stack()
        outer = stack or self._op_stack
        rec = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": outer[-1] if outer else None, "op": self.op,
            "thread": threading.get_ident(), "n": None,
        }
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def operation(self, op: str, kind: str):
        """Root span of one benchmark operation, opened on the calling
        thread; spans other threads start meanwhile hang off that thread's
        innermost open span."""
        self.op = op
        self._op_stack = self._stack()
        with self.span(kind, "bench") as rec:
            yield rec

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec["n"] = len(out)
                return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name, layer in WRAPPED:
            target = importlib.import_module(mod_name)
            if owner is not None:
                target = getattr(target, owner)
            orig = getattr(target, attr)
            self._patched.append((target, attr, orig))
            setattr(target, attr, self._wrapper(orig, name, layer))

    def uninstall(self) -> None:
        while self._patched:
            target, attr, orig = self._patched.pop()
            setattr(target, attr, orig)

    def listener(self) -> StreamingQueryListener:
        """StreamingQueryListener recording each trigger's durationMs."""
        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "duration_ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Progress()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
            for p in self.progress:
                f.write(json.dumps({"progress": p}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds not covered by its children's intervals."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
        )
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
