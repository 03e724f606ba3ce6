"""Spans around the engine's public layer entry points, recorded from outside.

``Tracer.install`` replaces module and class attributes with wrappers that
open a span per call; ``uninstall`` restores the originals. The engine calls
each of these through the module attribute (``sqlfront.parse_sql``,
``planner.choose_backing``, ...), so the wrappers see every call. A counter
on the py4j gateway client's ``send_command`` attributes each JVM round trip
to the innermost open span.

Spans are plain dicts ``{name, start, end, parent, op_id, py4j, error}``
kept in memory; ``layer_stats`` turns one op's spans into per-layer self
times (a span's duration minus the time its child spans cover) and py4j
counts.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


def _targets():
    """(owner, attribute, layer) for every wrapped entry point."""
    from pysparkline import lowering, planner, sqlfront, transforms
    from pysparkline.session import OlapContext
    from pysparkline.streaming.ingest import StreamingIngest

    return [
        (sqlfront, "parse_sql", "sqlfront"),
        (transforms, "optimize", "transforms"),
        (planner, "choose_backing", "planner"),
        (lowering, "lower", "lowering"),
        (OlapContext, "sql", "session"),
        (OlapContext, "query", "session"),
        (StreamingIngest, "process_batch", "streaming"),
    ]


class Tracer:
    def __init__(self, gateway_client):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op_id: int | None = None
        self._client = gateway_client
        self._saved: list[tuple] = []

    # ------------------------------------------------------------- spans
    @contextmanager
    def op(self, op_id: int):
        """Trace everything called inside the block as op ``op_id``."""
        self._op_id = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op_id = None

    @contextmanager
    def span(self, name: str):
        if self._op_id is None:
            yield
            return
        sp = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1]["idx"] if self._stack else None,
            "op_id": self._op_id,
            "py4j": 0,
            "error": None,
            "idx": len(self.spans),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._op_id is None:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------ install/remove
    def install(self) -> None:
        for owner, attr, layer in _targets():
            raw = owner.__dict__[attr]
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, self._wrap(raw, layer))
        client = self._client
        send = client.send_command
        tracer = self

        def counting_send(*args, **kwargs):
            if tracer._stack:
                tracer._stack[-1]["py4j"] += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._saved.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            if raw is None:
                delattr(owner, attr)  # drops the instance override
            else:
                setattr(owner, attr, raw)
        self._saved.clear()

    # ------------------------------------------------------------ summary
    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op_id"] == op_id]


def layer_stats(spans: list[dict]) -> dict:
    """Per-layer self ms and py4j counts of one op's spans, plus the op's
    traced wall ms and total py4j round trips."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            d = (s["end"] - s["start"]) * 1000
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + d
    self_ms: dict[str, float] = {}
    py4j: dict[str, int] = {}
    wall = 0.0
    for s in spans:
        d = (s["end"] - s["start"]) * 1000
        if s["name"] == "op":
            wall = d
        self_ms[s["name"]] = (
            self_ms.get(s["name"], 0.0) + d - child_ms.get(s["idx"], 0.0)
        )
        py4j[s["name"]] = py4j.get(s["name"], 0) + s["py4j"]
    return {
        "self_ms": self_ms,
        "py4j": py4j,
        "wall_ms": wall,
        "py4j_total": sum(py4j.values()),
        "declined": any(
            s["name"] == "sqlfront" and s["error"] == "SQLFrontError"
            for s in spans
        ),
    }
