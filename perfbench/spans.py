"""Spans around calls into the program's layers, with Spark stage metrics.

A span tags every Spark job it starts with its own job group
(``SparkContext.setJobGroup``). When the span closes, the listener bus is
drained and Spark's status store (live even with
``spark.ui.enabled=false``) is read for the jobs of that group; the
executor metrics of their stages are summed onto the span. Spans are kept
in memory and summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: StageData getters summed over a span's stages, by the field name they
#: get on the span
_STAGE_FIELDS = {
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    parent: str | None
    wall_s: float = 0.0
    jobs: int = 0
    stages: dict[str, int] = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return self.stages.get("cpu_ns", 0) / 1e9

    @property
    def gc_s(self) -> float:
        return self.stages.get("gc_ms", 0) / 1e3

    @property
    def spill_bytes(self) -> int:
        return self.stages.get("memory_spill_bytes", 0) + self.stages.get(
            "disk_spill_bytes", 0
        )


class Tracer:
    """Records :class:`Span` objects for one benchmark process."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()  # noqa: SLF001
        self._open: list[tuple[str, Span]] = []
        self._n = 0
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body; a span's jobs and stage metrics include those of
        the spans opened inside it."""
        self._n += 1
        group = f"perfbench-{self._n}"
        parent = self._open[-1][1] if self._open else None
        sp = Span(name, parent.name if parent else None)
        self._open.append((group, sp))
        self._sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self._open.pop()
            if self._open:
                self._sc.setJobGroup(self._open[-1][0], self._open[-1][1].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            jobs, stages = self._stage_metrics(group)
            sp.jobs += jobs
            for key, val in stages.items():
                sp.stages[key] = sp.stages.get(key, 0) + val
            if parent is not None:
                parent.jobs += sp.jobs
                for key, val in sp.stages.items():
                    parent.stages[key] = parent.stages.get(key, 0) + val
            self.spans.append(sp)

    def _stage_metrics(self, group: str) -> tuple[int, dict[str, int]]:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                n_jobs += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        totals = dict.fromkeys(_STAGE_FIELDS, 0)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            for key, getter in _STAGE_FIELDS.items():
                totals[key] += getattr(st, getter)()
        return n_jobs, totals

    def median(self, name: str) -> dict[str, float]:
        """Median of each figure over the spans called ``name``; all 0
        when no such span ran."""
        spans = [s for s in self.spans if s.name == name]
        figures = {
            "wall_s": lambda s: s.wall_s,
            "jobs": lambda s: s.jobs,
            "cpu_s": lambda s: s.cpu_s,
            "gc_s": lambda s: s.gc_s,
            "spill_bytes": lambda s: s.spill_bytes,
            **{k: (lambda s, k=k: s.stages.get(k, 0)) for k in _STAGE_FIELDS},
        }
        return {
            k: statistics.median(f(s) for s in spans) if spans else 0
            for k, f in figures.items()
        }


def plan_rows(df: DataFrame, node_name: str) -> int:
    """Sum of ``numOutputRows`` over the executed plan's nodes called
    ``node_name``, read after an action on ``df``. Walks through adaptive
    query stages into the final plan."""

    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        own = 0
        if node.nodeName() == node_name:
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                own = metric.get().value()
        return own + sum(walk(k) for k in kids)

    return walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001


def plan_shape(df: DataFrame) -> tuple[int, int]:
    """(exchanges, plan_nodes) of ``df``'s physical plan before execution."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    exchanges = sum(
        1 for ln in lines if "Exchange" in ln and "Reused" not in ln
    )
    return exchanges, len(lines)
