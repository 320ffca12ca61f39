"""Spans around calls into the engine's modules, recorded from outside.

The tracer replaces public functions and methods of the engine's modules
with wrappers for the duration of a traced run; the program itself is
not instrumented. Each span records its name, start, end, parent, the
batch id of the apply it belongs to and the id of the top-level
operation it serves. A span that can launch Spark jobs also becomes the
thread's Spark job group, so the event log can attribute jobs, stages
and tasks to it. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

from perfbench.stats import self_time

#: job group of jobs launched outside any span
ROOT_GROUP = "span-0"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.phase = "setup"
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self._set_group(None)

    def _stack(self) -> list[dict]:
        """Open spans of the calling thread. A span opened on a pool
        thread has no parent: which span submitted its work is unknown."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # ------------------------------------------------------------ spans

    def _set_group(self, sp) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(ROOT_GROUP if sp is None else f"span-{sp['id']}", "", False)

    @contextlib.contextmanager
    def span(self, name: str, batch_id: str | None = None, jobs: bool = True):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "batch_id": batch_id or (parent["batch_id"] if parent else None),
            "op_id": parent["op_id"] if parent else sid,
            "phase": self.phase,
            "jobs": jobs,
            "thread": threading.current_thread().name,
            "counts": {},
        }
        stack.append(sp)
        if jobs:
            self._set_group(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if jobs:
                # back to the innermost enclosing span that owns a group
                owner = next((s for s in reversed(stack) if s["jobs"]), None)
                self._set_group(owner)
            self.spans.append(sp)

    # --------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, batch_of=None, on_result=None,
             jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per
        call; ``batch_of(*args)`` names the batch, ``on_result(span,
        args, kwargs, result)`` records counts."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            bid = batch_of(*args, **kwargs) if batch_of else None
            with tracer.span(name, batch_id=bid, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------- summaries

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {
            s["id"]: self_time(
                s["start"], s["end"],
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
            )
            for s in self.spans
        }

    def descendants(self, roots) -> set[int]:
        """Ids of the given spans and every span below them."""
        kids = self.children()
        out: set[int] = set()
        todo = [s["id"] for s in roots]
        while todo:
            i = todo.pop()
            if i not in out:
                out.add(i)
                todo.extend(c["id"] for c in kids.get(i, []))
        return out

    def outermost(self, spans: list[dict]) -> list[dict]:
        """The given spans minus those enclosed by another of them, so
        their durations add up without counting nested calls twice."""
        by_id = {s["id"]: s for s in self.spans}
        ids = {s["id"] for s in spans}

        def nested(s) -> bool:
            p = s["parent"]
            while p is not None:
                if p in ids:
                    return True
                p = by_id[p]["parent"]
            return False

        return [s for s in spans if not nested(s)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def prefer_timed(spans: list[dict]) -> list[dict]:
    """The timed phase's spans when it has any, else all of them: a layer
    the timed section never calls reports its set-up and warm-up calls."""
    timed = [s for s in spans if s["phase"] == "timed"]
    return timed or spans
