#!/usr/bin/env python3
"""Point-in-time feature-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root.  One closed-loop client (one driver, one job
after another) on ``local[$(nproc)]``.  Inputs are generated from the seed by
``perfbench/inputs.py``; every workload's output is checked outside the
timed region against oracles that do not use Spark (``perfbench/oracles.py``).

Phases of a run, in order:

1. inputs: seeded parquet generation, then one Spark session that launches
   the JVM and prepares Spark-side copies (bucketed tables).  Not set-up.
2. set-up, 1 + ``SETUPS`` times: start a Spark context, register the
   inputs, warm up (Python workers, codegen).  The first set-up is the
   JVM's first pass over every plan shape (class loading, JIT); it is
   printed and discarded.  ``setup_s`` is the median of the others.
3. timed: repetitions of the workload for ``--seconds`` (at least
   ``MIN_REPS``); ``wall_s`` is the median repetition.
4. checks: correctness against the oracles.

``--trace 1`` sets up (one discarded, one kept), runs one untimed
repetition, then alternates untraced and traced repetitions.  It then runs
the kernel controls, the status-store layer profile, the checks and, for
``pit_expanding``, a weak scaling leg (the same workload at ``local[1]`` on
shard 0, 1/N of the input with the same shape -> ``scaling_eff``), and
prints the per-layer metrics (``perfbench/layers.py``) instead of the
end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Every file the run writes lives under
``.perfbench_work/`` in the working directory; each run removes its own
work directory when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 2
MIN_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session(n_cores: int, work: str):
    from light_curve_python_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark(
        master=f"local[{n_cores}]", shuffle_partitions=8 * n_cores,
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "3g",
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        })


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


class Counter:
    """Operations attempted and failed (raised, or failed a check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list = []

    def rep(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.notes.append(traceback.format_exc(limit=3))
            log(self.notes[-1])
            return None

    def checks(self, fn):
        try:
            results = fn()
        except Exception:
            results = [("checks", False, traceback.format_exc(limit=3))]
        for name, ok, detail in results:
            self.attempted += 1
            self.failed += 0 if ok else 1
            log(f"check {name}: {'ok' if ok else 'FAIL'} ({detail})")
            if not ok:
                self.notes.append(f"{name}: {detail}")
        return results


def timed_reps(w, spark, tr, seconds: float, counter: Counter) -> list:
    """Closed-loop repetitions for ``seconds`` (at least MIN_REPS);
    returns the wall time of each successful repetition."""
    walls = []
    end = time.perf_counter() + seconds
    while True:
        w.before_rep()
        t0 = time.perf_counter()
        rows = counter.rep(lambda: w.run(spark, tr))
        dt = time.perf_counter() - t0
        if rows is not None:
            walls.append(dt)
            log(f"rep {len(walls)}: {dt:.3f} s")
        if time.perf_counter() >= end and len(walls) >= MIN_REPS:
            return walls
        if counter.failed > 2 * MIN_REPS:
            raise RuntimeError("workload keeps failing")


def setup(w, work: str, n_cores: int, old, part: str = "all"):
    """Stop ``old``, start a fresh context, register, warm up.
    Returns (spark, start_s, warmup_s)."""
    from tracing import NullTracer
    if old is not None:
        old.stop()
    t0 = time.perf_counter()
    spark = session(n_cores, work)
    t1 = time.perf_counter()
    w.register(spark, part)
    w.warmup(spark, NullTracer())
    log(f"set-up local[{n_cores}] {part}: start {t1 - t0:.2f} s, "
        f"register + warm-up {time.perf_counter() - t1:.2f} s")
    return spark, t1 - t0, time.perf_counter() - t1


def setups(w, work: str, n_cores: int, old, n: int):
    """One discarded JIT-cold set-up, then ``n`` timed ones.  Returns
    (spark, seconds of the discarded one, [(start_s, warmup_s)] of the
    timed ones)."""
    spark, start_s, warm_s = setup(w, work, n_cores, old)
    times = []
    for _ in range(n):
        spark, s0, s1 = setup(w, work, n_cores, spark)
        times.append((s0, s1))
    return spark, start_s + warm_s, times


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_plain(w, work: str, args, n_cores: int, spark, counter) -> dict:
    from procmem import PeakRss
    from tracing import NullTracer
    spark, cold_s, times = setups(w, work, n_cores, spark, SETUPS)
    setup_s = [a + b for a, b in times]
    mem = PeakRss().start()
    try:
        walls = timed_reps(w, spark, NullTracer(), args.seconds, counter)
    finally:
        mem.stop()
    counter.checks(lambda: w.check(spark))
    log("checked")
    spark.stop()
    wall = statistics.median(walls)
    rps = w.rows["all"] / wall
    print(f"wall_s       {wall:.4f} s  median of {len(walls)} reps "
          f"(min {min(walls):.4f}, max {max(walls):.4f})")
    print(f"rows_per_s   {rps:.1f} {w.unit}/s at {w.rows['all']} "
          f"{w.unit} per rep, {len(walls)} reps")
    print(f"setup_s      {statistics.median(setup_s):.4f} s  median of "
          f"{len(setup_s)} set-ups {[round(s, 3) for s in setup_s]}, "
          f"after one discarded JIT-cold set-up of {cold_s:.3f} s")
    print(f"peak_rss_mb  {mem.peak_mb:.1f} MiB  driver JVM + Python "
          f"workers, peak over the timed phase")
    print(f"failed_frac  {counter.failed / counter.attempted:.4f}  "
          f"{counter.failed} of {counter.attempted} operations")
    return {
        "wall_s": metric(wall, "s"),
        "rows_per_s": metric(rps, "1/s"),
        "setup_s": metric(statistics.median(setup_s), "s"),
    }


def run_traced(w, work: str, args, n_cores: int, spark, counter) -> dict:
    import layers
    from procmem import PeakRss
    from sparkstatus import StatusReader
    from tracing import NullTracer, Tracer
    spark, _, [(start_s, warm_s)] = setups(w, work, n_cores, spark, 1)
    # one untimed repetition first: the first after a set-up is the
    # slowest, and neither kind may take that slowdown alone
    w.before_rep()
    counter.rep(lambda: w.run(spark, NullTracer()))
    reader = StatusReader(spark, layers.STATUS_METRICS)
    tr = Tracer(spark, f"{w.name}-{args.seed}")
    mem = PeakRss().start()
    execs, walls, untraced = [], [], []
    end = time.perf_counter() + args.seconds
    pairs = 0
    try:
        # untraced and traced repetitions alternate, and so does which of
        # the two comes first in a pair, so trace.overhead_s compares like
        # with like
        while (min(len(walls), len(untraced)) < MIN_REPS
               or time.perf_counter() < end):
            order = (False, True) if pairs % 2 == 0 else (True, False)
            pairs += 1
            for traced in order:
                w.before_rep()
                if traced:
                    with tr.span("rep", "workload") as rep:
                        ok = counter.rep(lambda: w.run(spark, tr))
                    dt = rep.seconds
                    t0 = time.perf_counter()
                    execs += reader.drain(tr.prefix)
                    log(f"status store read in "
                        f"{time.perf_counter() - t0:.2f} s")
                else:
                    t0 = time.perf_counter()
                    ok = counter.rep(lambda: w.run(spark, NullTracer()))
                    dt = time.perf_counter() - t0
                if ok is not None:
                    (walls if traced else untraced).append(dt)
                    log(f"{'traced' if traced else 'untraced'} rep: "
                        f"{dt:.3f} s")
            if counter.failed > 2 * MIN_REPS:
                raise RuntimeError("workload keeps failing")
    finally:
        mem.stop()
    out = w.kernel_controls()
    out.update(layers.profile(w, tr, reader, execs, n_cores))
    out.update(layers.extras(w))
    counter.checks(lambda: w.check(spark))
    out.update(layers.summary(w, out, untraced, walls))
    if w.scaling:
        # weak scaling: local[1] on shard 0 (1/N of the input, same shape)
        spark, _, _ = setup(w, work, 1, spark, part="sub")
        walls1 = timed_reps(w, spark, NullTracer(), args.seconds / 2,
                            counter)
        rps = w.rows["all"] / statistics.median(untraced)
        rps1 = w.rows["sub"] / statistics.median(walls1)
        out["scaling_eff"] = rps / (n_cores * rps1)
        print(f"scaling_eff: local[{n_cores}] {rps:.1f} {w.unit}/s on "
              f"{w.rows['all']} vs local[1] {rps1:.1f} {w.unit}/s on "
              f"{w.rows['sub']} ({len(walls1)} reps)")
    spark.stop()
    out.update({
        "session.start_s": start_s, "session.warmup_s": warm_s,
        "peak_rss_mb": mem.peak_mb,
        "py_workers.peak_rss_mb": mem.peak_py_mb,
    })
    trace_path = os.path.join(os.path.dirname(work),
                              f"trace-{w.name}-{args.seed}.jsonl")
    tr.write(trace_path, execs)
    full, absent = layers.complete(out)
    layers.report(full, absent, trace_path)
    return {k: metric(v, layers.unit_of(k)) for k, v in full.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything this run and the JVM/Python workers it starts write stays
    # under the work directory
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path[:0] = [root, HERE]
    try:
        try:
            import light_curve_python_spark  # noqa: F401
        except ImportError as e:
            log(f"the program is not importable from {root}: {e}")
            return 2
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            log(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(WORKLOADS)}")
            return 2
        n_cores = cores()
        w = WORKLOADS[args.workload](work, args.seed, n_cores)
        t0 = time.perf_counter()
        summary = w.generate()
        log("inputs generated")
        spark = session(n_cores, work)
        log("JVM up")
        w.stage(spark, ("all", "sub") if args.trace else ("all",))
        log("inputs staged")
        print(f"inputs       {json.dumps(summary)} rows/rep "
              f"{w.rows} generated in {time.perf_counter() - t0:.2f} s "
              f"on local[{n_cores}]")
        counter = Counter()
        run = run_traced if args.trace else run_plain
        metrics = run(w, work, args, n_cores, spark, counter)
        print(json.dumps({"correct": counter.failed == 0,
                          "attempted": counter.attempted,
                          "failed": counter.failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def shutdown_jvm() -> None:
    """Stop any live context and the gateway JVM, and wait for it to end."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
