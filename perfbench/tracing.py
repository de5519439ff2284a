"""Traced-run tooling: an in-memory span recorder and a Spark event-log folder.

The recorder wraps a layer's public functions at their module attributes
(and at every ``from module import name`` alias in the loaded package), so
the package itself is never edited. Each span sets a Spark job group named
``<phase>|<span name>|<span id>``; the folder then attributes every task in
an uncompressed event log to the span and phase whose job ran it.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

from common import SPARK_UNITS

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start

    def group(self) -> str:
        return f"{self.phase}|{self.name}|{self.id}"


class Tracer:
    """Records nested spans in memory; optionally tags Spark jobs by span.

    ``sc`` (a SparkContext) may be attached after construction, once a
    session exists; spans opened before that carry no job group.
    """

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), name, parent.id if parent else None,
                   self.phase, self.run_id, time.perf_counter())
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(_GROUP_KEY, rec.group() if rec else None)
        self.sc.setLocalProperty(_DESC_KEY, rec.name if rec else None)

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str,
             on_result: Callable[[Span, object], None] | None = None,
             alias_prefix: str | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``.

        With ``alias_prefix``, every loaded module whose name starts with it
        and that holds the same function object under the same attribute
        name (a ``from module import attr``) is patched too.
        """
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        self.patch(owner, attr, wrapper, alias_prefix)

    def patch(self, owner, attr: str, replacement, alias_prefix: str | None = None) -> None:
        """Set ``owner.attr`` (and its aliases, as in ``wrap``), remembering
        the originals for ``unwrap_all``."""
        orig = getattr(owner, attr)
        targets = [owner]
        if alias_prefix:
            targets += [m for n, m in list(sys.modules.items())
                        if n.startswith(alias_prefix) and m is not owner
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reductions ------------------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Span time minus the part of its interval that child spans cover."""
        covered = 0.0
        cursor = span.start
        for c in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.seconds - covered

    def select(self, name: str, phase: str | None = None,
               parent_name: str | None = None) -> list[Span]:
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name or (phase is not None and s.phase != phase):
                continue
            if parent_name is not None:
                p = by_id.get(s.parent) if s.parent is not None else None
                if p is None or p.name != parent_name:
                    continue
            out.append(s)
        return out

    def total(self, name: str, phase: str | None = None,
              parent_name: str | None = None) -> float:
        return sum(s.seconds for s in self.select(name, phase, parent_name))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "phase": s.phase, "run_id": s.run_id,
                    "start": s.start, "end": s.end, "attrs": s.attrs,
                }, default=str) + "\n")


# -- event log ------------------------------------------------------------
SPARK_FIELDS = tuple(SPARK_UNITS)


def fold_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Sum task metrics of an uncompressed Spark event log by job group.

    A stage belongs to the job group of the first job that lists it (a
    later job that reuses its shuffle output skips it). Jobs without a
    group fold under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            m = ev.get("Task Metrics") or {}
            rec = out[group]
            rec["tasks"] += 1
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / 2**20
    return dict(out)


def by_phase(folded: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Re-key folded job groups ``<phase>|<span>|<id>`` by phase."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    for group, rec in folded.items():
        phase = group.split("|", 1)[0] if group else "untraced"
        for k, v in rec.items():
            out[phase][k] += v
    return dict(out)
