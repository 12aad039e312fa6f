"""Spans recorded from outside the program, and Spark metrics per span.

A span wraps one call into a layer's public function: name, start, end,
parent and run id. Each span sets its own Spark job group, so the jobs it
launched can be looked up afterwards in ``StatusTracker`` and their stages,
tasks and SQL plan metrics in the JVM and SQL status stores. Spans stay in
memory and are written out once, when the run ends.

Nothing inside the package under test is instrumented. Where the program
reports its own timings (``run_pipeline``'s ``stage_seconds``), they become
child spans through :meth:`Tracer.add`, and jobs are matched to them by
submission time.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its children cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op, so
    the untraced run executes the same benchmark code without the cost."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True) -> None:
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def span(self, name: str, **attrs):
        if not self.enabled:
            return nullcontext(None)
        return self._span(name, attrs)

    @contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.span_id if parent else None,
                 self.run_id, time.time(), attrs=dict(attrs))
        s.group = f"{self.run_id}.{s.span_id}"
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """A span reconstructed from timings the program reported itself;
        it has no job group of its own."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), name, parent.span_id, self.run_id, start, end))

    def write(self, path: str, extra: dict[int, dict] | None = None) -> None:
        """One JSON object per span, with its self time and any per-span
        metrics in ``extra``."""
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["duration_s"] = s.duration
                rec["self_s"] = st[s.span_id]
                rec.update((extra or {}).get(s.span_id, {}))
                f.write(json.dumps(rec, default=str) + "\n")


# ---------------------------------------------------------- Spark status

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str | None) -> tuple[float, int | None]:
    """A formatted SQL metric -> (total in bytes / seconds / count, stage id
    of its largest task or None). Formats: ``"10,000"`` (sum) and
    ``"total (min, med, max (stageId: taskId))\\n82.0 KiB (..., 20.5 KiB
    (stage 3.0: task 1))"`` (size and timing)."""
    if not text:
        return 0.0, None
    line = text.split("\n", 1)[-1]
    m = _VALUE_RE.match(line)
    if m is None:
        return 0.0, None
    value = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
    sm = _STAGE_RE.search(line)
    return value, int(sm.group(1)) if sm else None


@dataclass
class StageRec:
    """One executed stage attempt; times in seconds, start/end epoch."""

    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    start: float
    end: float
    task_s: list[float]


@dataclass
class ExecRec:
    exec_id: int
    jobs: list[int]
    # (node name, {metric name: (value, stage id of the largest task,
    # accumulator id)}); a cached plan shows its nodes again under the same
    # accumulator ids, so sums must count each accumulator once
    nodes: list[tuple[str, dict[str, tuple[float, int | None, int]]]]


class SparkStatus:
    """Reads finished jobs, stages, tasks and SQL executions back from the
    driver's status stores (the Spark UI itself is off)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.jvm.java.util.ArrayList()
        self._q = sc._gateway.new_array(self.jvm.double, 0)

    def _list(self, seq) -> list:
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def jobs_for_group(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def all_jobs(self) -> list[tuple[int, float]]:
        """(job id, submission epoch seconds) of every retained job."""
        out = []
        for jd in self._list(self.store.jobsList(self._empty)):
            sub = jd.submissionTime()
            out.append((jd.jobId(), sub.get().getTime() / 1e3 if sub.isDefined() else 0.0))
        return out

    def stages(self, job_ids: list[int]) -> list[StageRec]:
        seen: set[int] = set()
        out = []
        for j in job_ids:
            for sid in self._list(self.store.job(j).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in self._list(self.store.stageData(sid, False, self._empty, False, self._q)):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    sub, done = sd.submissionTime(), sd.completionTime()
                    tasks = self._list(self.store.taskList(sid, sd.attemptId(), 100_000))
                    out.append(StageRec(
                        sid, sd.numTasks(),
                        sd.executorRunTime() / 1e3, sd.executorCpuTime() / 1e9,
                        sd.shuffleReadBytes(), sd.shuffleWriteBytes(),
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                        sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                        done.get().getTime() / 1e3 if done.isDefined() else 0.0,
                        [t.duration().get() / 1e3 for t in tasks if t.duration().isDefined()],
                    ))
        return out

    def executions(self, job_ids: list[int]) -> list[ExecRec]:
        """SQL executions that ran any of ``job_ids``, with each plan node's
        metrics parsed from the SQL status store."""
        wanted = set(job_ids)
        out = []
        for e in self._list(self.sql.executionsList()):
            jobs = [int(j) for j in self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                e.jobs()).keySet()]
            if not wanted.intersection(jobs):
                continue
            # keys are java.lang.Long: look them up from a Python dict, not
            # through Map.get, which py4j would call with an Integer
            values = {int(k): v for k, v in self.jvm.scala.jdk.javaapi.CollectionConverters
                      .asJava(self.sql.executionMetrics(e.executionId())).items()}
            nodes = []
            for node in self._list(self.sql.planGraph(e.executionId()).allNodes()):
                metrics = {
                    m.name(): (*parse_metric(values.get(m.accumulatorId())), m.accumulatorId())
                    for m in self._list(node.metrics())
                }
                nodes.append((node.name(), metrics))
            out.append(ExecRec(e.executionId(), sorted(jobs), nodes))
        return out


def udf_usage(execs: list[ExecRec]) -> tuple[dict[str, float], set[int]]:
    """MapInPandas metric totals over ``execs`` and the stages the operator
    ran in. Each accumulator counts once: later executions that read the
    operator's cached output show its node again under the same
    accumulator ids."""
    totals: dict[str, float] = {}
    stages: set[int] = set()
    seen: set[int] = set()
    for e in execs:
        for name, metrics in e.nodes:
            if name != "MapInPandas" or metrics.get("number of output rows", (0.0,))[0] <= 0:
                continue
            for key, (value, stage, acc) in metrics.items():
                if acc in seen:
                    continue
                seen.add(acc)
                totals[key] = totals.get(key, 0.0) + value
                if stage is not None:
                    stages.add(stage)
    return totals, stages
