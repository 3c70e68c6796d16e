"""Spans and Spark counters for the traced benchmark run.

Everything here sits outside the library: a span is opened by the
benchmark around a call into a layer, Spark's job group is set to the
span's id before the call so ``statusTracker`` attributes every job the
call launches (including the library's own collects) to that span, and
after an action the final adaptive plan is walked for the operators' SQL
metrics.  Spans stay in memory until the run writes its artifact.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: SQL-metric keys read per physical operator; the node's class name
#: picks the row.
_EXCHANGE_WRITE = "shuffleBytesWritten"
_EXCHANGE_READ = ("localBytesRead", "remoteBytesRead")
_PYTHON_NODES = (
    "FlatMapGroupsInPandasExec",
    "FlatMapGroupsInArrowExec",
    "ArrowEvalPythonExec",
    "MapInPandasExec",
    "MapInArrowExec",
    "BatchEvalPythonExec",
)
#: ``pythonTotalTime`` is a millisecond timing metric.
_PYTHON_TIME_PER_S = 1e3
_AGG_NODES = ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise every method is a no-op
    so untraced ops execute the same code without the overhead.  A run
    may switch ``enabled`` between passes."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self._sc
        prev = sc.getLocalProperty("spark.jobGroup.id")
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        group = f"{self.run_id}:{s.id}"
        sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)
            self._count_jobs(s, group)

    def _count_jobs(self, s: Span, group: str) -> None:
        st = self._sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    s.stages += 1
                    s.tasks += stage.numTasks

    def subtree_jobs(self, s: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of ``s`` and every span below it: a
        nested span's jobs carry the nested span's group, not the
        parent's."""
        kids = [c for c in self.spans if c.parent == s.id]
        j, st, t = s.jobs, s.stages, s.tasks
        for c in kids:
            cj, cs, ct = self.subtree_jobs(c)
            j, st, t = j + cj, st + cs, t + ct
        return j, st, t

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.id and c.end
        )
        covered, edge = 0.0, s.start
        for a, b in kids:
            a, b = max(a, edge), min(b, s.end)
            if b > a:
                covered += b - a
                edge = b
        return s.duration - covered

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_time(s)
            out.append(d)
        return out


# --------------------------------------------------------------------- #
# final-plan SQL metrics
# --------------------------------------------------------------------- #


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its exchange is counted where it ran
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_metrics(df) -> dict:
    """Operator counters of ``df``'s executed plan (call after an action
    on ``df``): the adaptive plan's final form, descending into its query
    stages.  Returns zeros for a plan that never ran."""
    out = {
        "exchange.n": 0,
        "exchange.write_bytes": 0,
        "exchange.read_bytes": 0,
        "exchange.max_records": 0,
        "sort.n": 0,
        "sort.spill_bytes": 0,
        "window.n": 0,
        "agg.peak_mem_bytes": 0,
        "scan.bytes": 0,
        "scan.rows": 0,
        "python.rows": 0,
        "python.bytes": 0,
        "python.s": 0.0,
    }
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            out["exchange.n"] += 1
            out["exchange.write_bytes"] += _metric(node, _EXCHANGE_WRITE)
            out["exchange.read_bytes"] += sum(_metric(node, k) for k in _EXCHANGE_READ)
            out["exchange.max_records"] = max(
                out["exchange.max_records"], _metric(node, "shuffleRecordsWritten")
            )
        elif cls == "SortExec":
            out["sort.n"] += 1
            out["sort.spill_bytes"] += _metric(node, "spillSize")
        elif cls in ("WindowExec", "WindowGroupLimitExec"):
            out["window.n"] += 1
        elif cls in _AGG_NODES:
            out["agg.peak_mem_bytes"] += _metric(node, "peakMemory")
        elif cls == "FileSourceScanExec":
            out["scan.bytes"] += _metric(node, "filesSize")
            out["scan.rows"] += _metric(node, "numOutputRows")
        elif cls in _PYTHON_NODES:
            out["python.rows"] += _metric(node, "pythonNumRowsReceived")
            out["python.s"] += _metric(node, "pythonTotalTime") / _PYTHON_TIME_PER_S
            out["python.bytes"] += _metric(node, "pythonDataSent") + _metric(
                node, "pythonDataReceived"
            )
        stack.extend(_children(node))
    return out
