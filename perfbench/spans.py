"""Spans around calls into the program's layers, and Spark's own counters.

A ``Tracer`` records one span per call the benchmark wraps: name, start,
end, parent. Each span runs its Spark jobs under its own job group, so the
jobs, stages and SQL executions it caused can be read back afterwards from
Spark's status stores through py4j (the UI and its REST API are off in this
program's sessions, the stores are not):

* ``AppStatusStore``  - per stage: shuffle bytes written, spill, output
  bytes, and every task's duration;
* ``SQLAppStatusStore`` - per executed plan node: rows out, and the bytes a
  ``MapInPandas`` node sent to and received from Python workers;
* ``getRDDStorageInfo`` - bytes held by persisted frames.

Spark is lazy, so a span contains its layer's work only when the wrapper
ends the layer with persist + action; see ``cut``.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
MB = 2.0 ** 20


def metric_value(text: str) -> float | None:
    """Parse a formatted SQL metric: '807', '2.2 KiB', '5.1 s', or the
    'total (min, med, max ...)\\n<total> (<min>, ...)' form. Bytes come back
    in bytes, times in seconds; None for a metric with no total (averages
    print only '(min, med, max ...)')."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Span:
    name: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    group: str = ""
    children: list["Span"] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


class SparkInstruments:
    """Read-only access to one session's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def last_execution_id(self) -> int:
        last = -1
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            last = max(last, int(it.next().executionId()))
        return last

    def executions_after(self, after: int) -> list[tuple[int, set[int]]]:
        """(execution id, job ids) of every SQL execution with id > after."""
        out = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = int(e.executionId())
            if eid > after:
                jobs = set()
                ji = e.jobs().keys().iterator()
                while ji.hasNext():
                    jobs.add(int(ji.next()))
                out.append((eid, jobs))
        return out

    def plan_nodes(self, execution_id: int) -> list[PlanNode]:
        values = self._sql.executionMetrics(execution_id)
        nodes = []
        it = self._sql.planGraph(execution_id).allNodes().iterator()
        while it.hasNext():
            n = it.next()
            metrics = {}
            mi = n.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                v = values.get(m.accumulatorId())
                value = metric_value(v.get()) if v.isDefined() else None
                if value is not None:
                    metrics[m.name()] = value
            nodes.append(PlanNode(n.name(), n.desc(), metrics))
        return nodes

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_ids: list[int]) -> set[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Sums over stages: shuffle write, spill (memory + disk), output."""
        tot = {"shuffle_bytes": 0.0, "spill_bytes": 0.0, "output_bytes": 0.0}
        for s in stage_ids:
            try:
                st = self._app.lastStageAttempt(s)
            except Py4JJavaError:  # a stage that never ran (skipped)
                continue
            tot["shuffle_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["output_bytes"] += st.outputBytes()
        return tot

    def task_durations(self, stage_id: int) -> list[float]:
        """Seconds per finished task of the stage's last attempt."""
        try:
            st = self._app.lastStageAttempt(stage_id)
        except Py4JJavaError:  # a stage that never ran (skipped)
            return []
        out = []
        it = self._app.taskList(stage_id, st.attemptId(), 1 << 30).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out

    def cached_bytes(self) -> float:
        return float(sum(i.memSize() + i.diskSize()
                         for i in self._jsc.getRDDStorageInfo()))


class Tracer:
    """Nested spans in memory; Spark jobs run under the innermost span's
    job group so each span's jobs can be attributed to it afterwards."""

    def __init__(self, inst: SparkInstruments):
        self.inst = inst
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(name=name, parent=parent, group=f"bench-{self._n}-{name}")
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        self.inst.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.inst.sc.setJobGroup(parent.group if parent else "bench", "")

    def cut(self, name: str, build, keep: list) -> DataFrame:
        """Run a layer inside a span: ``build()`` makes its output frame
        (driver-side planning), which is then persisted and counted, so the
        span holds the layer's work and consumers read the cache."""
        with self.span(name) as sp:
            df = build().persist()
            keep.append(df)
            sp.counts["rows"] = df.count()
        return df

    def total(self, name: str, key: str = "") -> float:
        """Sum of self-times (or of count ``key``) over spans named ``name``."""
        sel = [s for s in self.spans if s.name == name]
        if key:
            return float(sum(s.counts.get(key, 0.0) for s in sel))
        return float(sum(s.self_time for s in sel))

    def jobs_of(self, names: tuple[str, ...]) -> list[int]:
        out = []
        for s in self.spans:
            if s.name in names:
                out.extend(self.inst.job_ids(s.group))
        return out

    def plan_nodes_of(self, names: tuple[str, ...], after: int) -> list[PlanNode]:
        jobs = set(self.jobs_of(names))
        nodes = []
        for eid, ejobs in self.inst.executions_after(after):
            if ejobs & jobs:
                nodes.extend(self.inst.plan_nodes(eid))
        return nodes

    def stage_totals_of(self, names: tuple[str, ...]) -> dict[str, float]:
        return self.inst.stage_totals(self.inst.stage_ids(self.jobs_of(names)))


def render_passes(nodes: list[PlanNode]) -> int:
    """Executed render stages: MapInPandas nodes of the fused stage (output
    carries reading_order_rank and stage) or of rasterize_pages (output
    carries render_checksum) that produced rows."""
    return sum(
        1 for n in nodes
        if n.name == "MapInPandas" and n.metrics.get("number of output rows")
        and ("render_checksum" in n.desc
             or ("reading_order_rank" in n.desc and "stage#" in n.desc)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1]); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# cProfile keys (file base name, function) of the fused stage's legs
LEGS = {
    "leg_render_s": ("rasterize.py", "_render_page"),
    "leg_json_decode_s": ("__init__.py", "loads"),     # json.loads
    "leg_detect_s": ("detect.py", "detect_page"),
    "leg_clip_text_s": ("algorithms.py", "clip_text"),
    "leg_xy_cut_s": ("algorithms.py", "xy_cut_order"),
}
_FUSED_FILE = "detect.py"


def fused_legs(perf_results: dict) -> dict[str, float]:
    """Inclusive worker seconds of the fused stage's legs from the UDF perf
    profiler (pstats objects keyed by UDF id), counting only calls made from
    the fused stage's code in detect.py and summed over workers.
    ``leg_other_s`` is the rest of the UDF's Python time: batch assembly,
    error rows and the Arrow hand-off."""
    tot = {k: 0.0 for k in LEGS}
    udf = 0.0
    for stats in perf_results.values():
        for (fname, _line, func), (*_, ct, callers) in stats.stats.items():
            base = os.path.basename(fname)
            if func == "run" and base == _FUSED_FILE:
                udf += ct
            for leg, (file, name) in LEGS.items():
                if func == name and base == file:
                    tot[leg] += sum(c[3] for (cf, _l, _f), c in callers.items()
                                    if os.path.basename(cf) == _FUSED_FILE)
    tot["leg_other_s"] = max(0.0, udf - sum(tot.values()))
    return tot
