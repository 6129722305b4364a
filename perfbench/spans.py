"""Span recording and per-layer cost attribution for traced runs.

A span is one call into a layer's public function, recorded by the
benchmark around that call: name (the layer), start, end, parent span
and run id. Every span opens its own Spark job group, so each job the
call submits lands in exactly one span; after the run the job and stage
metrics are read from Spark's status store (through the JVM, so the UI
stays off) and joined to spans by job group.

A call that returns a lazy DataFrame submits no jobs of its own: its
jobs belong to the span that materializes the frame, and that span's
``note`` says so.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

@dataclass
class Span:
    run_id: str
    span_id: str
    parent_id: str | None
    name: str
    start: float
    end: float = 0.0
    pass_no: int = 0
    attrs: dict = field(default_factory=dict)
    note: str = ""


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job
    groups, so untraced runs execute exactly the calls they time."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no = 0
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextlib.contextmanager
    def span(self, name: str, note: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            run_id=self.run_id,
            span_id=f"{self.run_id}/{len(self.spans)}",
            parent_id=parent.span_id if parent else None,
            name=name,
            start=0.0,
            pass_no=self.pass_no,
            attrs=dict(attrs),
            note=note,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time the benchmark spends on trace-only work inside a pass
        (rows and bytes written), counted as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str, jobs: list[dict], extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "attribution": (
                "jobs join spans by job group; a lazy frame's jobs belong "
                "to the span that materializes it (see each span's note)"
            ),
            "spans": [asdict(s) for s in self.spans],
            "jobs": jobs,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _epoch_s(opt) -> float | None:
    """Seconds since the epoch from a Scala Option[java.util.Date]."""
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def fetch_jobs(sc, groups: set[str]) -> list[dict]:
    """Job records of the given job groups, with their own stages' task
    count, executor CPU time and shuffle bytes. A stage shared by
    several jobs counts once, for the first job that ran it."""
    jsc = sc._jsc.sc()
    # the status store is fed by an asynchronous listener: wait until it
    # has seen every event
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = {}
    for s in _seq(store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)):
        if s.status().toString() != "SKIPPED" and s.attemptId() == 0:
            stages[s.stageId()] = s
    jobs = []
    for j in _seq(store.jobsList(None)):
        group = j.jobGroup()
        jobs.append({
            "job_id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "status": j.status().toString(),
            "start": _epoch_s(j.submissionTime()),
            "end": _epoch_s(j.completionTime()),
            "stage_ids": _seq(j.stageIds()),
        })
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["job_id"]):
        for sid in j["stage_ids"]:
            owner.setdefault(sid, j["job_id"])
    out = []
    for j in jobs:
        if j["group"] not in groups:
            continue
        own = [stages[s] for s in j.pop("stage_ids") if owner.get(s) == j["job_id"] and s in stages]
        j.update({
            "tasks": sum(s.numCompleteTasks() for s in own),
            "exec_cpu_s": sum(s.executorCpuTime() for s in own) / 1e9,
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in own) / 2**20,
        })
        out.append(j)
    return sorted(out, key=lambda j: j["job_id"])


# ---------------------------------------------------------------------------
# per-layer attribution
# ---------------------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def layer_costs(spans: list[Span], jobs: list[dict]) -> dict[int, dict[str, dict]]:
    """{pass_no: {layer: {wall_s, jobs, tasks, exec_cpu_s, shuffle_mb,
    driver_gap_s}}} — SELF costs: a span's wall time minus its child
    spans, and only the jobs of its own group. driver_gap_s is that self
    time minus the union of the span's own job intervals."""
    by_group = defaultdict(list)
    for j in jobs:
        by_group[j["group"]].append(j)
    children = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append(s)
    out: dict[int, dict[str, dict]] = defaultdict(dict)
    for s in spans:
        kids = [(c.start, c.end) for c in children[s.span_id]]
        self_wall = (s.end - s.start) - _union_len(kids)
        own = by_group[s.span_id]
        busy = _union_len(
            [
                (max(j["start"], s.start), min(j["end"] or s.end, s.end))
                for j in own
                if j["start"] is not None and j["start"] < s.end
            ]
        )
        acc = out[s.pass_no].setdefault(
            s.name,
            {"wall_s": 0.0, "jobs": 0, "tasks": 0, "exec_cpu_s": 0.0,
             "shuffle_mb": 0.0, "driver_gap_s": 0.0},
        )
        acc["wall_s"] += self_wall
        acc["jobs"] += len(own)
        acc["tasks"] += sum(j["tasks"] for j in own)
        acc["exec_cpu_s"] += sum(j["exec_cpu_s"] for j in own)
        acc["shuffle_mb"] += sum(j["shuffle_mb"] for j in own)
        acc["driver_gap_s"] += max(self_wall - busy, 0.0)
    return out
