"""Per-layer metrics of a traced run.

Every metric is per timed repetition (totals divided by the number of
traced repetitions) unless it is a rate.  Spark-side numbers come from the
status store (``sparkstatus``); each SQL execution is attributed to the span
whose job description it carries, and through it to the operator call that
built it.  Python-side operator metrics are split by node: co-grouped Arrow
and pandas nodes are the PIT extraction boundary (``operators.extract``),
every other Python node is a grouped-evaluation shape (``operators.grouped``
via ``operators.spectral``).

Self times: a repetition's wall time is split into driver time outside
Spark executions (planning calls, ``CheckpointedRun`` bookkeeping, the rest)
and execution time.  Execution time in which no stage of the execution has
a task running (job submission, stage scheduling) is ``spark_sched``.  The
rest, stage-active time, is split by each operator class's share of the
execution's task time; task time no class claims is ``other_task`` (codegen
pipelines without a timing metric).  Where a stage has fewer tasks than
cores, part of the stage-active time is idle cores waiting on the running
tasks; ``trace.idle_core_s`` states how much.  The kernel share of Python
time is estimated from the kernel controls: the work units of one
repetition divided by the single-core rate, as a share of the Python task
time.  ``trace.gap_s`` is the wall time no layer claims: ``driver_other``,
``spark_sched`` and ``other_task``.

A metric whose layer the workload does not run (no node of its class, no
span of its call) is reported as 0 and named as not run; a layer that ran
reports its value, 0 included.
"""

from __future__ import annotations

import glob
import os
import statistics

import sparkstatus as ss

OP_LAYERS = ("extract", "grouped", "windows", "dedup", "checkpoint")
GROUPED_FNS = ("periodogram_freq_power",)
DEDUP_FNS = ("ngram_jaccard_pairs",)
SELF_PARTS = ("plan", "checkpoint", "driver_other", "kernel",
              "python_boundary", "scan", "exchange", "sort", "agg", "write",
              "spark_sched", "other_task")
TASK_CLASSES = ("python", "scan", "exchange", "sort", "agg", "write")
# parts that belong to a named layer; the rest (driver_other, spark_sched,
# other_task) is the gap
LAYER_PARTS = ("plan", "checkpoint", "kernel", "python_boundary", "scan",
               "exchange", "sort", "agg", "write")

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TO = "data sent to Python workers"
PY_FROM = "data returned from Python workers"
# the status-store node metrics the profile reads
STATUS_METRICS = (PY_RUN, PY_START, PY_INIT, PY_TO, PY_FROM, "scan time",
                  "size of files read", "shuffle bytes written",
                  "shuffle write time", "fetch wait time", "data size",
                  "sort time", "spill size", "peak memory",
                  "time in aggregation build", "number of output rows",
                  "task commit time")

METRICS = (
    ["battery.vectors_per_s", "kernels.windows_per_s",
     "fastperiodogram.curves_per_s",
     "extract.plan_s", "extract.py_run_s", "extract.py_init_s",
     "extract.bytes_to_py", "extract.bytes_from_py",
     "extract.task_s.min", "extract.task_s.med", "extract.task_s.max"]
    + [f"grouped.call_s.{f}" for f in GROUPED_FNS]
    + ["grouped.py_run_s", "grouped.bytes_to_py", "grouped.sort_s"]
    + ["windows.call_s.asof_join"]
    + ["sort.time_s", "sort.spill_bytes", "sort.peak_mem_bytes"]
    + [f"dedup.call_s.{f}" for f in DEDUP_FNS]
    + ["dedup.candidate_pairs", "dedup.pairs_out", "dedup.pair_yield",
       "agg.build_s", "agg.spill_bytes",
       "exchange.count", "exchange.bytes_written", "exchange.write_s",
       "exchange.fetch_wait_s", "exchange.part_bytes.min",
       "exchange.part_bytes.med", "exchange.part_bytes.max",
       "scan.count", "scan.bytes_read", "scan.time_s",
       "checkpoint.bucket_s.min", "checkpoint.bucket_s.med",
       "checkpoint.bucket_s.max", "checkpoint.bytes_written",
       "checkpoint.write_s", "checkpoint.resume_s",
       "session.start_s", "session.warmup_s", "jvm.gc_s", "spark.tasks",
       "peak_rss_mb", "py_workers.peak_rss_mb", "scaling_eff",
       "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
       "trace.accounted_share", "trace.gap_s", "trace.idle_core_s"]
    + [f"self_s.{p}" for p in SELF_PARTS])


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("rss_mb"):
        return "MiB"
    if "bytes" in name:
        return "B"
    if name in ("dedup.pair_yield", "trace.accounted_share", "scaling_eff"):
        return "ratio"
    if name.endswith(".count") or name in ("spark.tasks",
                                           "dedup.candidate_pairs",
                                           "dedup.pairs_out"):
        return "count"
    return "s"


def _op_span(tr, span):
    while span is not None and span.layer not in OP_LAYERS:
        span = tr.spans[span.parent] if span.parent is not None else None
    return span


def _rep_of(tr, span):
    while span is not None and span.name != "rep":
        span = tr.spans[span.parent] if span.parent is not None else None
    return span


def _py_layer(node_name: str) -> str:
    return "extract" if "CoGroups" in node_name else "grouped"


def profile(w, tr, reader, execs, n_cores: int) -> dict:
    reps = [s for s in tr.spans if s.name == "rep"]
    n = max(len(reps), 1)
    spans = {e["id"]: tr.span_of(e["description"]) for e in execs}
    mine = [e for e in execs if spans[e["id"]] is not None]
    walls = {e["id"]: reader.exec_wall(e) for e in mine}
    stages = {e["id"]: reader.stage_totals(e["stages"]) for e in mine}
    out: dict = {}

    # Python boundary, split by node kind
    py: dict = {"extract": [], "grouped": []}
    for e in mine:
        for node in e["nodes"]:
            if ss.op_class(node["name"]) == "python":
                py[_py_layer(node["name"])].append(node["metrics"])

    def py_sum(layer, name):
        return sum(m.get(name, (0.0,))[0] for m in py[layer]) / n

    def py_dist(layer, name):
        ds = [m[name] for m in py[layer] if name in m and m[name][1]
              is not None]
        if not ds:
            return 0.0, 0.0, 0.0
        return (min(d[1] for d in ds), statistics.median(d[2] for d in ds),
                max(d[3] for d in ds))

    def call_s(key, name):
        got = [sp.seconds for sp in tr.spans if sp.name == name]
        if got:
            out[key] = sum(got) / n

    # a metric is set only when its layer ran: a node of its class was
    # planned, or a span of its call was recorded
    call_s("extract.plan_s", "extract.extract_point_in_time.plan")
    if py["extract"]:
        out["extract.py_run_s"] = py_sum("extract", PY_RUN)
        out["extract.py_init_s"] = (py_sum("extract", PY_START)
                                    + py_sum("extract", PY_INIT))
        out["extract.bytes_to_py"] = py_sum("extract", PY_TO)
        out["extract.bytes_from_py"] = py_sum("extract", PY_FROM)
        (out["extract.task_s.min"], out["extract.task_s.med"],
         out["extract.task_s.max"]) = py_dist("extract", PY_RUN)
    if py["grouped"]:
        out["grouped.py_run_s"] = py_sum("grouped", PY_RUN)
        out["grouped.bytes_to_py"] = py_sum("grouped", PY_TO)

    for f in GROUPED_FNS:
        call_s(f"grouped.call_s.{f}", f"grouped.{f}")
    # asof_join only plans inside the checkpointed compute; its work runs
    # in the checkpoint's write actions
    call_s("windows.call_s.asof_join", "windows.asof_join.plan")
    for f in DEDUP_FNS:
        call_s(f"dedup.call_s.{f}", f"dedup.{f}")

    grouped_execs = [e for e in mine
                     if (_op_span(tr, spans[e["id"]]) or spans[e["id"]])
                     .layer == "grouped"]
    g_agg = ss.aggregate(grouped_execs)
    if "sort" in g_agg["counts"]:
        out["grouped.sort_s"] = ss.metric(g_agg, "sort", "sort time") / n

    agg = ss.aggregate(mine)
    counts = agg["counts"]
    if "sort" in counts:
        out["sort.time_s"] = ss.metric(agg, "sort", "sort time") / n
        out["sort.spill_bytes"] = ss.metric(agg, "sort", "spill size") / n
        out["sort.peak_mem_bytes"] = ss.metric(agg, "sort", "peak memory", 3)
    if "agg" in counts:
        out["agg.build_s"] = ss.metric(agg, "agg",
                                       "time in aggregation build") / n
        out["agg.spill_bytes"] = ss.metric(agg, "agg", "spill size") / n
    pair_execs = [e for e in mine
                  if (_op_span(tr, spans[e["id"]]) or spans[e["id"]]).name
                  == "dedup.ngram_jaccard_pairs"]
    if "generate" in ss.aggregate(pair_execs)["counts"]:
        out["dedup.candidate_pairs"] = sum(
            ss.node_max([e], "generate", "number of output rows")
            for e in pair_execs) / n
    if "exchange" in counts:
        out["exchange.count"] = counts["exchange"] / n
        out["exchange.bytes_written"] = ss.metric(
            agg, "exchange", "shuffle bytes written") / n
        out["exchange.write_s"] = ss.metric(agg, "exchange",
                                            "shuffle write time") / n
        out["exchange.fetch_wait_s"] = ss.metric(agg, "exchange",
                                                 "fetch wait time") / n
        # per shuffle-map task output: the skew an exchange starts from
        for i, k in ((1, "min"), (2, "med"), (3, "max")):
            out[f"exchange.part_bytes.{k}"] = ss.metric(agg, "exchange",
                                                        "data size", i)
    if "scan" in counts:
        out["scan.count"] = counts["scan"] / n
        out["scan.bytes_read"] = ss.metric(agg, "scan",
                                           "size of files read") / n
        out["scan.time_s"] = ss.metric(agg, "scan", "scan time") / n
    ck_writes = [walls[e["id"]] for e in mine
                 if any(ss.op_class(nd["name"]) == "write"
                        for nd in e["nodes"])
                 and (_op_span(tr, spans[e["id"]]) or spans[e["id"]]).layer
                 == "checkpoint"]
    if ck_writes:
        out["checkpoint.write_s"] = sum(ck_writes) / n
    out["jvm.gc_s"] = sum(s["gc_s"] for s in stages.values()) / n
    out["spark.tasks"] = sum(s["tasks"] for s in stages.values()) / n

    # ---- self-time decomposition, per repetition -----------------------
    kernel_task_s = sum(units / max(rate, 1e-9)
                        for k, units in w.kernel_vectors().items()
                        for rate in [w.control_rates.get(k, 0.0)]
                        if rate > 0)
    parts = {p: 0.0 for p in SELF_PARTS}
    idle = 0.0
    for rep in reps:
        rexecs = [e for e in mine if _rep_of(tr, spans[e["id"]]) is rep]
        ewall = sum(walls[e["id"]] for e in rexecs)
        in_plan = sum(walls[e["id"]] for e in rexecs
                      if spans[e["id"]].layer == "plan")
        plan = sum(s.seconds for s in tr.spans
                   if s.layer == "plan" and _rep_of(tr, s) is rep) - in_plan
        ck_direct = sum(walls[e["id"]] for e in rexecs
                        if spans[e["id"]].layer == "checkpoint")
        ck = sum(tr.self_seconds(s) for s in tr.spans
                 if s.layer == "checkpoint" and _rep_of(tr, s) is rep) \
            - ck_direct
        parts["plan"] += plan
        parts["checkpoint"] += ck
        parts["driver_other"] += rep.seconds - ewall - plan - ck
        scaled = dict.fromkeys(TASK_CLASSES + ("other",), 0.0)
        py_task = 0.0
        for e in rexecs:
            st = stages[e["id"]]
            parts["spark_sched"] += walls[e["id"]] - st["active_s"]
            idle += st["active_s"] - st["run_s"] / n_cores
            task = _task_times(ss.aggregate([e]))
            py_task += task["python"]
            if not st["run_s"]:
                scaled["other"] += st["active_s"]
                continue
            # stage-active time goes to the work that ran in it, in
            # proportion to each class's task time: when a stage has fewer
            # tasks than cores, the idle cores wait on that work
            scale = st["active_s"] / st["run_s"]
            for k, v in task.items():
                scaled[k] += v * scale
            scaled["other"] += max(st["run_s"] - sum(task.values()),
                                   0.0) * scale
        kern = min(kernel_task_s, py_task) / py_task if py_task else 0.0
        parts["kernel"] += scaled["python"] * kern
        parts["python_boundary"] += scaled["python"] * (1.0 - kern)
        for k in ("scan", "exchange", "sort", "agg", "write"):
            parts[k] += scaled[k]
        parts["other_task"] += scaled["other"]
    for p in SELF_PARTS:
        out[f"self_s.{p}"] = parts[p] / n
    out["trace.idle_core_s"] = idle / n
    return out


def _task_times(agg: dict) -> dict:
    """Task seconds per operator class of one execution."""
    return {
        "python": ss.metric(agg, "python", PY_RUN),
        "scan": ss.metric(agg, "scan", "scan time"),
        "exchange": ss.metric(agg, "exchange", "shuffle write time")
        + ss.metric(agg, "exchange", "fetch wait time"),
        "sort": ss.metric(agg, "sort", "sort time"),
        "agg": ss.metric(agg, "agg", "time in aggregation build"),
        "write": ss.metric(agg, "write", "task commit time"),
    }


def extras(w) -> dict:
    """Per-run numbers that come from the workload, not the status store."""
    out = {}
    if hasattr(w, "manifest"):
        secs = sorted(e["seconds"] for e in w.manifest())
        out["checkpoint.bucket_s.min"] = secs[0]
        out["checkpoint.bucket_s.med"] = statistics.median(secs)
        out["checkpoint.bucket_s.max"] = secs[-1]
        out["checkpoint.bytes_written"] = float(sum(
            os.path.getsize(f) for f in glob.glob(
                os.path.join(w.out_dir(), "**", "*.parquet"),
                recursive=True)))
        out["checkpoint.resume_s"] = w.resume_seconds()
    return out


def summary(w, out: dict, untraced, traced) -> dict:
    wall = statistics.median(traced)
    base = statistics.median(untraced)
    accounted = sum(out[f"self_s.{p}"] for p in LAYER_PARTS)
    mean_wall = sum(traced) / len(traced)
    res = {"trace.wall_s": wall, "trace.untraced_wall_s": base,
           "trace.overhead_s": wall - base,
           "trace.accounted_share": accounted / mean_wall,
           "trace.gap_s": mean_wall - accounted}
    if hasattr(w, "pairs_out"):
        res["dedup.pairs_out"] = float(w.pairs_out)
        cand = out.get("dedup.candidate_pairs", 0.0)
        if cand:
            res["dedup.pair_yield"] = w.pairs_out / cand
    return res


def complete(out: dict) -> tuple[dict, list]:
    """Every per-layer metric, 0 where this workload does not run the
    layer; returns (metrics, names of the layers' metrics not run)."""
    full = {k: float(out.get(k, 0.0)) for k in METRICS}
    return full, [k for k in METRICS if k not in out]


def report(out: dict, absent: list, trace_path: str) -> None:
    width = max(len(k) for k in out)
    for k, v in out.items():
        print(f"{k:<{width}}  {v:14.6g} {unit_of(k)}")
    if absent:
        print("layer not run by this workload (reported as 0): "
              + ", ".join(absent))
    print(f"spans written to {trace_path}")
