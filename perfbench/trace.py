"""In-memory span tracer and its summariser.

Spans are recorded by the benchmark around its calls into the program's
public functions (never inside the program).  A span's name is
``<layer>.<rest>``; its layer is the part before the first dot
(``session``, ``table_store``, ``sql_ddl``, ``operators``, or ``bench``
for the benchmark's own per-op span).  Spans of one op share ``op_id``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op_id: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so one code path
    serves traced and untraced ops."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.active = False
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, self.clock(), None, parent, self.op_id)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - _union_length(children.get(i, []))
        for i, s in enumerate(spans)
    ]


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer."""
    out: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] += t
    return dict(out)


def span_durations(spans: list[Span], name: str) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name]


def op_counts(spans: list[Span]) -> dict[str, int]:
    """Traced ops per op type (the root ``bench.<type>`` spans)."""
    out: dict[str, int] = defaultdict(int)
    for s in spans:
        if s.parent is None and s.layer == "bench":
            out[s.name.split(".", 1)[1]] += 1
    return dict(out)


def overhead_frac(
    traced: dict[str, list[float]], untraced: dict[str, list[float]]
) -> float:
    """Tracing overhead from ops run alternately with and without tracing:
    per op type, the mean traced latency against the mean untraced one,
    weighted by how often each type ran.  It is the share by which
    ``ops_per_s`` would fall if every op were traced (negative when the
    traced ops happened to run faster)."""
    extra = base = 0.0
    for kind, lat in traced.items():
        other = untraced.get(kind)
        if not lat or not other:
            continue
        n = len(lat) + len(other)
        mean_t = sum(lat) / len(lat)
        mean_u = sum(other) / len(other)
        extra += n * (mean_t - mean_u)
        base += n * mean_t
    return extra / base if base else 0.0


class SparkJobs:
    """Counts the Spark jobs and tasks of each op via one job group per op,
    read back from ``SparkStatusTracker`` after the timed phase."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[tuple[str, str]] = []  # (metric prefix, group id)

    @contextmanager
    def group(self, prefix: str, op_id: int):
        gid = f"perfbench-{op_id}-{prefix}"
        self.sc.setJobGroup(gid, prefix)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.groups.append((prefix, gid))

    def counts(self) -> dict[str, list[tuple[int, int]]]:
        """``prefix -> [(jobs, tasks), ...]`` with one entry per op."""
        tracker = self.sc.statusTracker()
        out: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for prefix, gid in self.groups:
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
            out[prefix].append((len(jobs), tasks))
        return dict(out)
