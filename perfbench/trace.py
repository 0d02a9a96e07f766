"""Tracing for the benchmark's traced run, recorded from outside the program.

``Tracer`` keeps spans in memory: name, start, end, parent span and the
job they belong to. ``install`` wraps ``StageRunner.run``,
``StageRunner._lineage``, ``StageRunner._write_manifest`` and
``linking.canonical_components`` so each call records a span, and tags
the Spark jobs each one starts with its own job group. ``SparkStats``
reads what Spark measured for those groups: stage totals from the core
status store and per-operator SQL metrics from the SQL status store.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable, Iterator

GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        s = {"id": len(self.spans), "trace": self.trace_id, "name": name,
             "parent": self._stack[-1] if self._stack else None,
             "start": self.clock(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = self.clock()


@contextlib.contextmanager
def job_group(sc, group: str) -> Iterator[None]:
    """Tag the Spark jobs started inside with ``group`` (also used as the
    description, so SQL executions carry it), then restore the caller's."""
    prev = {k: sc.getLocalProperty(k) for k in GROUP_KEYS}
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def group_name(trace_id: str, *parts: str) -> str:
    return ":".join(("pb", trace_id) + parts)


def install(tracer: Tracer, sc) -> Callable[[], None]:
    """Wrap the stage runner and the components operator; returns a
    function that restores the originals."""
    from ehr_relation_extraction_spark.operators import linking
    from ehr_relation_extraction_spark.plans.stages import StageRunner

    orig_run = StageRunner.run
    orig_lineage = StageRunner._lineage
    orig_manifest = StageRunner._write_manifest
    orig_cc = linking.canonical_components

    def run(runner, stage, build, *a, **kw):
        with tracer.span("stages.run", stage=stage) as sp, \
                job_group(sc, group_name(tracer.trace_id, stage)):
            out = orig_run(runner, stage, build, *a, **kw)
        sp["action"] = runner.events[-1]["action"]
        return out

    def lineage(runner, stage, df, wall_ms):
        with tracer.span("stages.lineage", stage=stage), \
                job_group(sc, group_name(tracer.trace_id, stage, "lineage")):
            return orig_lineage(runner, stage, df, wall_ms)

    def manifest(runner):
        with tracer.span("stages.manifest"):
            return orig_manifest(runner)

    def canonical_components(linked):
        with tracer.span("linking.canonical_components"), \
                job_group(sc, group_name(tracer.trace_id, "components",
                                         "fixpoint")):
            return orig_cc(linked)

    StageRunner.run = run
    StageRunner._lineage = lineage
    StageRunner._write_manifest = manifest
    linking.canonical_components = canonical_components

    def uninstall():
        StageRunner.run = orig_run
        StageRunner._lineage = orig_lineage
        StageRunner._write_manifest = orig_manifest
        linking.canonical_components = orig_cc

    return uninstall


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number: sizes in bytes, times in
    seconds, counts as is. Task-aggregated values read
    'total (min, med, max ...)\\n<total> (<min>, ...)'; the total is kept."""
    line = text.strip().split("\n")[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkStats:
    """Read-only view of Spark's status stores for tagged job groups."""

    STAGE_FIELDS = ("executorRunTime", "shuffleWriteBytes",
                    "shuffleWriteRecords", "memoryBytesSpilled",
                    "diskBytesSpilled", "peakExecutionMemory")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listeners have seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        """One dict per executed stage attempt of these jobs."""
        ids = sorted({sid for j in job_ids
                      for sid in _seq(self.app.job(j).stageIds())})
        out = []
        for sid in ids:
            for sd in _seq(self.app.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False,
                    self.sc._gateway.new_array(self.jvm.double, 0))):
                if sd.status().toString() == "SKIPPED":
                    continue
                d = {f: getattr(sd, f)() for f in self.STAGE_FIELDS}
                d["stageId"], d["attemptId"] = sid, sd.attemptId()
                out.append(d)
        return out

    def task_durations(self, stage: dict) -> list[float]:
        tasks = _seq(self.app.taskList(stage["stageId"], stage["attemptId"],
                                       100_000))
        return [t.duration().get() / 1000.0 for t in tasks
                if t.duration().isDefined()]

    def sql_nodes(self, groups: set[str]) -> list[dict]:
        """Operator nodes of the SQL executions started under ``groups``:
        {"name", "metrics": {metric name: number}}."""
        out = []
        for e in _seq(self.sql.executionsList()):
            if e.description() not in groups:
                continue
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = _seq(self.sql.planGraph(eid).allNodes())
            for n in nodes:
                ms = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_metric(v.get())
                out.append({"name": n.name(), "metrics": ms})
        return out
