"""Layer profile reader over Spark's SQL status store.

Reads ``spark._jsparkSession.sharedState().statusStore()`` (SQL executions,
their plan graphs and metric values) and the core status store (stage task
times).  The Dataset's own ``queryExecution()`` is not used: after a noop
write its metrics are empty, because the writer plans its own execution.

Metric values arrive as Spark's display strings, e.g. ``"75 ms"`` or
``"total (min, med, max (stageId: taskId))\\n9.4 KiB (2.3 KiB, 2.3 KiB,
2.4 KiB (stage 0.0: task 0))"``; :func:`parse_metric` turns them into
``(total, min, med, max)`` in seconds, bytes or counts.  Spark prints a
size or timing metric without its distribution when only one task reported
it; that is a one-task sample, so min = med = max = total.
"""

from __future__ import annotations

import re
from collections import defaultdict

_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB|ms|s|m|h)?"
                    r"(?=[\s,()]|$)")

# operator classes, matched on plan-graph node names
PYTHON_NODES = re.compile(r"InArrow|InPandas|ArrowEvalPython|"
                          r"BatchEvalPython|PythonUDTF")


def op_class(node_name: str) -> str | None:
    if PYTHON_NODES.search(node_name):
        return "python"
    if node_name == "Exchange":
        return "exchange"
    if node_name.startswith("Scan"):
        return "scan"
    if node_name == "Sort":
        return "sort"
    if node_name.endswith("Aggregate"):
        return "agg"
    if node_name == "Generate":
        return "generate"
    if node_name.startswith("Execute ") or node_name == "WriteFiles":
        return "write"
    return None


def parse_metric(text: str) -> tuple:
    """Display string -> (total, min, med, max).  min/med/max are None for
    plain counts (no unit), which have no per-task distribution; a single
    size or timing value is one task's, so they all equal the total."""
    lines = text.strip().split("\n")
    found = [(float(n.replace(",", "")), u)
             for n, u in _VALUE.findall(lines[-1]) if n.strip(",.")]
    if len(lines) > 1:
        vals = [v * _UNITS[u] for v, u in found if u][:4]
        if len(vals) == 4:
            return tuple(vals)
    if not found:
        return (0.0, None, None, None)
    v, u = found[0]
    if u:
        v *= _UNITS[u]
        return (v, v, v, v)
    return (v, None, None, None)


class StatusReader:
    """Reads executions newer than a watermark; one instance per session.
    Only the node metrics named in ``wanted`` are read."""

    def __init__(self, spark, wanted):
        self.spark = spark
        self.wanted = frozenset(wanted)
        jvm = spark._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.watermark = self._last_id()

    def _last_id(self) -> int:
        ex = self._cc.asJava(self._sql.executionsList())
        return max((e.executionId() for e in ex), default=-1)

    def drain(self, prefix: str) -> list:
        """Executions started since the last drain whose job description
        starts with ``prefix``, as plain dicts."""
        self._bus.waitUntilEmpty()
        out = []
        for e in self._cc.asJava(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self.watermark:
                continue
            self.watermark = max(self.watermark, eid)
            if (e.description() or "").startswith(prefix):
                out.append(self._execution(e))
        return out

    def _execution(self, e) -> dict:
        eid = e.executionId()
        values = self._cc.asJava(self._sql.executionMetrics(eid))
        nodes = []
        graph = self._sql.planGraph(eid)
        for n in self._cc.asJava(graph.allNodes()):
            metrics = {}
            name = n.name()
            if op_class(name) is None:
                # no layer reads it; skipping saves py4j round trips
                nodes.append({"name": name, "metrics": metrics})
                continue
            for m in self._cc.asJava(n.metrics()):
                if m.name() not in self.wanted:
                    continue
                text = values.get(m.accumulatorId())
                if text is not None:
                    metrics[m.name()] = parse_metric(text)
            nodes.append({"name": name, "metrics": metrics})
        return {"id": eid, "description": e.description(),
                "stages": sorted(int(s) for s in
                                 self._cc.asJava(e.stages())),
                "jobs": sorted(int(j) for j in
                               self._cc.asJava(e.jobs()).keySet()),
                "nodes": nodes}

    def exec_wall(self, ex: dict) -> float:
        """Seconds from the first job's submission to the last job's
        completion of an execution (0 when it ran no job)."""
        starts, ends = [], []
        for jid in ex["jobs"]:
            job = self._core.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                starts.append(sub.get().getTime())
                ends.append(done.get().getTime())
        return (max(ends) - min(starts)) / 1e3 if starts else 0.0

    def stage_totals(self, stage_ids) -> dict:
        """Task-time totals of the given stages (latest attempt each), and
        ``active_s``: the wall time in which at least one of them had a
        task running (first task launch to stage completion, overlaps
        counted once)."""
        want = set(stage_ids)
        defaults = [getattr(self._core, f"stageList$default${i}")()
                    for i in range(2, 6)]
        tot = {"run_s": 0.0, "gc_s": 0.0, "tasks": 0}
        spans = []
        seen = set()
        for s in self._cc.asJava(self._core.stageList(None, *defaults)):
            sid = s.stageId()
            if sid not in want or sid in seen:
                continue
            if str(s.status()) == "SKIPPED":
                continue
            seen.add(sid)
            tot["run_s"] += s.executorRunTime() / 1e3
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["tasks"] += s.numCompleteTasks()
            launched, done = s.firstTaskLaunchedTime(), s.completionTime()
            if launched.isDefined() and done.isDefined():
                spans.append((launched.get().getTime(),
                              done.get().getTime()))
        tot["active_s"] = _union_ms(spans) / 1e3
        return tot


def _union_ms(spans) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(spans):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total


def aggregate(executions) -> dict:
    """Sum metrics per operator class: ``{class: {metric: [total, min,
    med-list, max]}}`` — medians are kept as lists (median of per-node
    medians is taken by the caller)."""
    out: dict = defaultdict(lambda: defaultdict(lambda: [0.0, None, [], None]))
    counts: dict = defaultdict(int)
    for ex in executions:
        for node in ex["nodes"]:
            cls = op_class(node["name"])
            if cls is None:
                continue
            counts[cls] += 1
            for name, (tot, lo, med, hi) in node["metrics"].items():
                a = out[cls][name]
                a[0] += tot
                if lo is not None:
                    a[1] = lo if a[1] is None else min(a[1], lo)
                    a[2].append(med)
                    a[3] = hi if a[3] is None else max(a[3], hi)
    return {"ops": out, "counts": dict(counts)}


def metric(agg: dict, cls: str, name: str, part: int = 0) -> float:
    """One aggregated value: part 0 total, 1 min, 2 median, 3 max."""
    a = agg["ops"].get(cls, {}).get(name)
    if a is None:
        return 0.0
    if part == 2:
        meds = sorted(a[2])
        return meds[len(meds) // 2] if meds else 0.0
    v = a[part]
    return 0.0 if v is None else v


def node_max(executions, cls: str, name: str) -> float:
    """Largest single-node total of a metric over the executions."""
    best = 0.0
    for ex in executions:
        for node in ex["nodes"]:
            if op_class(node["name"]) == cls and name in node["metrics"]:
                best = max(best, node["metrics"][name][0])
    return best
