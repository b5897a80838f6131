"""Spans recorded from the benchmark's own files, plus the reader of
Spark's status store that attributes jobs, tasks, shuffle, GC and
scheduler delay to them.

A span is (id, name, start, end, parent, run id). Spans stay in memory
and are written out when the run ends. When tracing is on, every span
sets its own Spark job group, so each job the span's code launches is
attributed to it through the job group the status store keeps with
every job (the store `statusTracker()` reads). Layer functions of the
package are wrapped from outside (`Tracer.wrap`): the package itself
is untouched.

Self time of a span = its duration minus the part of that interval its
child spans cover (`self_times`).
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With `sc` set (traced run) each span also owns a
    Spark job group; with `sc=None` spans only time their code, which is
    what the untraced runs use to time single operations."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        except Exception as e:
            s.attrs["error"] = repr(e)
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace `owner.attr` by a spanning wrapper, and every other
        reference to the same function that a package module bound at
        import time (`from .x import f`). `attrs(args, kwargs)` gives
        the span's attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name, **(attrs(args, kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for m in list(sys.modules.values())
                        if m is not owner
                        and getattr(m, "__name__", "").startswith(
                            "ethereum_export_pipeline_spark")
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, wrapped)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def subtree(self, root: Span) -> list[Span]:
        """`root` and every span below it."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s.id])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the time its direct children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: s.duration - covered(kids[s.id], s.start, s.end)
            for s in spans}


# ---------------------------------------------------------- status store

@dataclass
class GroupStats:
    """What Spark's status store tells about the jobs of one job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0            # executor run time
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    output_records: int = 0
    output_bytes: int = 0

    def add(self, o: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def fetch_status(sc, prefix: str) -> tuple[list, dict, dict]:
    """Jobs whose job group starts with `prefix`, the stages they ran
    and those stages' tasks, as the JSON the Spark UI's REST API would
    serve (`v1.JobData`, `v1.StageData`, `v1.TaskData`), read from the
    status store that also backs `statusTracker`. Waits until the
    listener bus has delivered every event first. Fails if the store
    has already evicted one of the jobs."""
    jsc, jvm = sc._jsc.sc(), sc._jvm
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(
        jvm.com.fasterxml.jackson.module.scala,
        "DefaultScalaModule$").__getattr__("MODULE$"))
    dump = lambda obj: json.loads(mapper.writeValueAsString(obj))
    every = dump(store.jobsList(None))
    jobs = [j for j in every if (j.get("jobGroup") or "").startswith(prefix)]
    if jobs and min(j["jobId"] for j in every) >= min(j["jobId"] for j in jobs):
        # eviction drops the oldest jobs first: an older job still held
        # proves none of these is gone
        raise RuntimeError("status store may have evicted traced jobs; "
                           "raise spark.ui.retainedJobs")
    stages, tasks = {}, {}
    for sid in {sid for j in jobs for sid in j["stageIds"]}:
        st = dump(store.lastStageAttempt(sid))
        stages[sid] = st
        tasks[sid] = dump(store.taskList(sid, st["attemptId"], 2 ** 31 - 1))
    return jobs, stages, tasks


def group_stats(jobs: list, stages: dict, tasks: dict) -> dict[str | None, GroupStats]:
    """Job group → stats. A stage belongs to the first job that lists
    it; stages a job skipped (their output was already there) ran no
    tasks and are not counted."""
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    owner: dict[int, str | None] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup")
        stats[g].jobs += 1
        for sid in j["stageIds"]:
            owner.setdefault(sid, g)
    for sid, g in owner.items():
        st = stages.get(sid)
        if st is None or st["status"] == "SKIPPED":
            continue
        s = stats[g]
        s.stages += 1
        s.tasks += len(tasks.get(sid, []))
        s.run_s += st["executorRunTime"] / 1e3
        s.gc_s += st["jvmGcTime"] / 1e3
        s.shuffle_write_bytes += st["shuffleWriteBytes"]
        s.input_records += st["inputRecords"]
        s.output_records += st["outputRecords"]
        s.output_bytes += st["outputBytes"]
        s.sched_delay_s += sum(t["schedulerDelay"] for t in tasks.get(sid, [])) / 1e3
    return stats


def subtree_stats(tracer: Tracer, roots: list[Span],
                  stats: dict[str | None, GroupStats]) -> GroupStats:
    """Summed status-store stats of the jobs launched under `roots`."""
    total = GroupStats()
    seen: set[int] = set()
    for r in roots:
        for s in tracer.subtree(r):
            if s.id not in seen:
                seen.add(s.id)
                total.add(stats.get(s.group, GroupStats()))
    return total
