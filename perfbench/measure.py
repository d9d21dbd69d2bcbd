"""Measurement helpers: order statistics with their sample counts, spans
with self time, and the Spark status store read over py4j.

Nothing here imports the engine, so the helpers are testable without a
Spark session.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import time
from dataclasses import dataclass, field


def median(values: list[float]) -> dict:
    """``{"value", "n"}``: the sample median and how many samples it rests on."""
    if not values:
        raise ValueError("median of no samples")
    return {"value": statistics.median(values), "n": len(values)}


def quartiles(values: list[float]) -> dict:
    """``{"q1", "q2", "q3", "n"}`` as ``statistics.quantiles(values, n=4)``
    gives them; needs two samples or more."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "q2": q2, "q3": q3, "n": len(values)}


def percentile(values: list[float], p: float) -> dict:
    """Nearest-rank ``p``-th percentile, with ``n`` and ``beyond``, the count
    of samples above it. A percentile with fewer than ten samples beyond it
    rests on too few of them to compare runs by."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    value = s[rank - 1]
    return {"value": value, "n": len(s), "beyond": sum(v > value for v in s)}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    """One timed interval of the trace; ``attrs`` holds its counts."""

    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    Times are seconds since the epoch, so Spark job spans taken from the
    status store (epoch milliseconds) share the clock with ours."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def start(self, name: str, kind: str, parent: Span | None = None) -> Span:
        span = Span(next(self._ids), name, kind, parent.id if parent else None,
                    time.time())
        self.spans.append(span)
        return span

    def finish(self, span: Span) -> float:
        span.end = time.time()
        return span.end - span.start

    def add(self, name: str, kind: str, parent: Span, start: float, end: float,
            **attrs) -> Span:
        span = Span(next(self._ids), name, kind, parent.id, start, end, attrs)
        self.spans.append(span)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        covered = [
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children(span)
            if c.end is not None and c.end > span.start and c.start < span.end
        ]
        return (span.end - span.start) - union_length(covered)

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "kind": s.kind, "parent": s.parent,
                "start": s.start, "end": s.end,
                "duration_s": s.end - s.start,
                "self_s": self.self_time(s),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def status_store_json(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage the Spark status store holds, read in two
    py4j calls as JSON: ``(jobs, {stage_id: stage})``. Only the last
    attempt of a stage is kept."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stage_seq = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        getattr(store, "stageList$default$5")(),
    )
    stages: dict[int, dict] = {}
    for st in json.loads(mapper.writeValueAsString(stage_seq)):
        prev = stages.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            stages[st["stageId"]] = st
    return jobs, stages
