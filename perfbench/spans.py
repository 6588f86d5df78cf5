"""Bench-side spans around the engine's public calls.

A span records its name, parent, thread and wall-clock start/end. While it is
open it sets the Spark local property ``perfbench.span`` to its id, so every
Spark job submitted inside it carries that id in the event log
(``eventlog.py`` maps jobs back to spans). Spans stay in memory until the run
ends. Nothing in ``gobblin_spark`` changes: ``install`` swaps module and class
attributes for wrappers and ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext whose jobs are tagged; None records spans
        without tagging (tests)."""
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._tag(stack[-1]["id"] if stack else None)

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a span.
        ``on_call(span, args, kwargs)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                if on_call is not None:
                    on_call(sp, args, kwargs)
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer boundaries named in README.md. ``engine`` imported
        the planner functions by name, so both bindings are wrapped."""
        from gobblin_spark import engine, lake, planner, state

        for mod in (planner, engine):
            self.wrap(mod, "discover_watermarks", "planner.discover")
            self.wrap(mod, "plan_batches", "planner.plan")
        self.wrap(
            planner,
            "footer_watermarks",
            "planner.footers",
            on_call=lambda sp, a, k: sp.update(files=len(a[0])),
        )
        self.wrap(engine.CdcEngine, "apply_batch", "engine.apply")
        self.wrap(engine.CdcEngine, "apply_stream_batch", "engine.apply")
        self.wrap(engine, "offset_islands", "engine.islands")
        self.wrap(lake.SnapshotTable, "merge", "lake.merge")
        self.wrap(lake.SnapshotTable, "read", "lake.read")
        self.wrap(lake.SnapshotTable, "compact", "lake.compact")
        self.wrap(state.StateStore, "put", "state.put")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
