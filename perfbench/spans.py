"""In-memory spans for traced benchmark runs.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span and ``op`` the id of the benchmark op that caused it. Spans
stay in a list until the run ends and are then written out as JSON. A
layer's self time is its duration minus the part of it that child spans
cover.

Spans are recorded only around public calls into the program, by
wrapping module and class attributes for the duration of one op
(``Tracer.patched``). An untraced run installs nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict[tuple, float] = defaultdict(float)
        self.op: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counts[(self.op, name)] += value

    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(result, *args)`` may record counts."""
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, *args, **kwargs)
            return out
        return traced

    def wrap_gen(self, name: str, fn):
        """Generator ``fn`` with one span per ``next``: only the time spent
        producing items is attributed to ``name``, not the consumer's."""
        def traced(*args, **kwargs):
            it = fn(*args, **kwargs)
            while True:
                with self.span(name):
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                yield item
        return traced

    @contextlib.contextmanager
    def patched(self, patches: list[tuple[object, str, object]]):
        """Temporarily set ``(owner, attr, value)`` triples."""
        saved = [(o, a, o.__dict__[a] if isinstance(o, type) else getattr(o, a))
                 for o, a, _ in patches]
        try:
            for o, a, v in patches:
                setattr(o, a, v)
            yield
        finally:
            for o, a, v in saved:
                setattr(o, a, v)

    # -- summaries ------------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals
        (children never overlap here: the program is traced on one thread)."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        return [e - s - c for (_, s, e, _, _), c in zip(self.spans, child)]

    def per_op(self, name: str, self_time: bool = False) -> dict[int, float]:
        """Seconds in spans called ``name``, summed per op."""
        durs = self.self_times() if self_time else [e - s for _, s, e, _, _ in self.spans]
        out: dict[int, float] = defaultdict(float)
        for (nm, _, _, _, op), d in zip(self.spans, durs):
            if nm == name:
                out[op] += d
        return dict(out)

    def counts_per_op(self, name: str) -> dict[int, float]:
        return {op: v for (op, nm), v in self.counts.items() if nm == name}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump({
                "spans": [
                    {"name": nm, "start_s": s - t0, "end_s": e - t0, "parent": p,
                     "op": op, "self_s": st}
                    for (nm, s, e, p, op), st in zip(self.spans, selfs)
                ],
                "counts": [{"op": op, "name": nm, "value": v}
                           for (op, nm), v in self.counts.items()],
            }, fh)
