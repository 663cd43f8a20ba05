"""Spans around the benchmark's calls into each layer, plus the engine
counters Spark's status store holds for the jobs each call ran.

A span has a name, a start, an end, the id of the span that caused it and
the id of the operation (one timed pass, or one stand-alone layer probe)
it belongs to. Spans stay in memory until the run ends. With tracing off
every ``span`` is a no-op, so untraced passes pay nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

#: Stage-level counters summed over the stages a span's jobs ran:
#: (output name, StageData accessor, scale to output unit).
STAGE_COUNTERS = (
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("input_bytes", "inputBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("gc_s", "jvmGcTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
)
EXEC_KEYS = ("jobs", "stages", *(name for name, _, _ in STAGE_COUNTERS))


@dataclass
class Span:
    id: int
    parent: int | None
    op: str
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        run_start = run_end = None
        clipped = sorted((max(c.start, s.start), min(c.end, s.end)) for c in children[s.id])
        for a, b in clipped:
            if b <= a:
                continue
            if run_end is None or a > run_end:
                if run_end is not None:
                    covered += run_end - run_start
                run_start, run_end = a, b
            else:
                run_end = max(run_end, b)
        if run_end is not None:
            covered += run_end - run_start
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Collects spans; ``enabled=False`` makes every method a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.op = ""

    @contextlib.contextmanager
    def operation(self, op: str):
        """Root span of one operation; every span opened inside shares
        its ``op`` id. Its ``codegen_compiles`` counter is the number of
        generated classes Spark compiled during the operation (a class
        evicted from Spark's code cache is compiled again)."""
        if not self.enabled:
            yield None
            return
        self.op = op
        compiles = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        with self.span("op", exec_counters=False) as root:
            yield root
        root.counters["codegen_compiles"] = (
            compiles.METRIC_COMPILATION_TIME().getCount() - before
        )

    @contextlib.contextmanager
    def span(self, name: str, exec_counters: bool = True):
        """Time one call. With ``exec_counters`` the call runs under its own
        Spark job group, and the jobs, stages and stage metrics of that
        group land in ``span.counters``; a body that starts jobs elsewhere
        (a streaming query) appends their group ids to
        ``span.counters["job_groups"]``."""
        if not self.enabled:
            yield _NullSpan()
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, self.op, name, time.perf_counter())
        sc = self.spark.sparkContext
        if exec_counters:
            s.counters["job_groups"] = [f"perfbench-{s.id}"]
            sc.setJobGroup(s.counters["job_groups"][0], name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if exec_counters:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                s.counters.update(exec_stats(sc, s.counters.pop("job_groups")))

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _NullSpan:
    """What an untraced ``span`` yields: counters written to it are dropped."""

    def __init__(self):
        self.counters: dict = {}


def exec_stats(sc, groups: list[str]) -> dict:
    """Jobs, stages that ran and summed stage metrics of the given job
    groups, read from the status store once the listener bus is drained
    (so the finished jobs' metrics have landed)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0}
    out.update({name: 0 for name, _, _ in STAGE_COUNTERS})
    if not stage_ids:
        return out
    gw = sc._gateway
    stages = jsc.statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        for name, getter, scale in STAGE_COUNTERS:
            out[name] += getattr(st, getter)() * scale
    return out


#: Physical operators counted by :func:`plan_stats`, by ``nodeName``.
_PLAN_NODES = {
    "exchanges": lambda n: n in ("Exchange", "BroadcastExchange"),
    "joins": lambda n: n.endswith("Join") or n == "CartesianProduct",
    "windows": lambda n: n == "Window",
    "inmemory_scans": lambda n: n == "InMemoryTableScan",
}


def plan_stats(df) -> dict:
    """Time to produce ``df``'s executed physical plan, and the number of
    exchanges, joins, windows and in-memory scans in it (adaptive plans
    are walked through their current plan; cached relations are leaves)."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    out = {"plan_s": time.perf_counter() - t0}
    out.update({k: 0 for k in _PLAN_NODES})
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        for key, match in _PLAN_NODES.items():
            if match(name):
                out[key] += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out
