"""The two benchmark workloads.

They split the layers between them, so a gain shows where its mechanism
runs and is predicted flat on the other workload:

- ``pit_expanding``: expanding-window point-in-time battery over
  doc_id-bucketed inputs (zero exchanges) -> kernels + Arrow boundary.
- ``batch_ckpt``: everything the flagship leaves idle -> range-horizon PIT
  + as-of join through ``CheckpointedRun`` (per-probe pandas route, uid
  join-back, cogroup exchange, window sort, parquet write + manifest), the
  ``grouped_map_batches`` shape (``periodogram_freq_power``) and the
  posting-list pair core (``ngram_jaccard_pairs``: JVM shuffle + hash
  aggregation).

A repetition is one closed-loop pass: one job after another from one
driver; ``pit_expanding`` writes to the noop sink, ``batch_ckpt`` to
parquet.
Correctness checks run outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

from inputs import CurveSpec, DocSpec, write_shards
import oracles

FULL_BATTERY = [
    "amplitude", "mean", "median", "standard_deviation", "mean_variance",
    "median_absolute_deviation", "weighted_mean", "kurtosis", "skew",
    "percent_amplitude", "observation_count", "duration", "time_mean",
    "time_standard_deviation", "maximum_time_interval",
    "minimum_time_interval", "inter_percentile_range",
    "percent_difference_magnitude_percentile", "magnitude_percentage_ratio",
    "median_buffer_range_percentage", "beyond_n_std", "stetson_k",
    "excess_variance", "reduced_chi2", "roms", "cusum", "eta", "eta_e",
    "maximum_slope", "anderson_darling_normal",
    "lafler_kinman_string_length", "linear_fit", "linear_trend", "otsu_split",
]
HORIZON = 100.0        # range-horizon PIT window, in t
N_CHECK_ENTITIES = 4   # entities whose every window is checked with numpy


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    name = ""
    unit = ""                 # what rows_per_s counts
    curve_spec: CurveSpec | None = None
    doc_spec: DocSpec | None = None
    scaling = False           # the traced run measures weak scaling

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.rows: dict = {}
        self.summary: dict = {}

    def path(self, part: str, table: str) -> str:
        return os.path.join(self.work, "inputs", part, f"{table}.parquet")

    # ---- inputs ----------------------------------------------------------

    def generate(self) -> dict:
        self.summary = write_shards(os.path.join(self.work, "inputs"),
                                    self.seed, self.cores,
                                    self.curve_spec, self.doc_spec)
        self.rows = {part: self.count_rows(part) for part in ("all", "sub")}
        return self.summary

    def count_rows(self, part: str) -> int:
        """Output rows of one repetition on ``part`` (the rows_per_s unit)."""
        import pyarrow.parquet as pq
        return pq.read_metadata(self.path(part, self.row_table)).num_rows

    row_table = "probes"

    def stage(self, spark, parts) -> None:
        """One-time Spark-side input preparation (not part of set-up)."""

    def register(self, spark, part: str) -> None:
        raise NotImplementedError

    # ---- timed work --------------------------------------------------------

    def op(self, tr, layer: str, fn: str, build, sink=noop):
        """One operator call (planning) and its action, each in a span."""
        with tr.span(f"{layer}.{fn}", layer):
            with tr.span(f"{layer}.{fn}.plan", "plan"):
                df = build()
            with tr.span(f"{layer}.{fn}.action", "action"):
                sink(df)
        return df

    def warmup(self, spark, tr) -> None:
        """One pass over a sample of the input: Python workers, codegen."""
        raise NotImplementedError

    def before_rep(self) -> None:
        """Untimed per-repetition preparation."""

    def run(self, spark, tr) -> int:
        raise NotImplementedError

    def check(self, spark) -> list:
        raise NotImplementedError

    # ---- kernel controls (traced run) ---------------------------------------

    def control_curves(self, n: int):
        """(t, m, sigma) of a seeded sample of this workload's own curves
        plus each curve's sorted probe times."""
        import pyarrow.parquet as pq
        obs_path = self.path("all", "observations")
        ids = pq.read_table(obs_path, columns=["doc_id"]) \
            .column("doc_id").unique().to_pylist()
        ids = oracles.sample_ids(ids, n, self.seed + 1)
        curves = oracles._curves(obs_path, ids)
        p = pq.read_table(self.path("all", "probes"),
                          columns=["doc_id", "ts"],
                          filters=[("doc_id", "in", ids)])
        d = np.asarray(p.column("doc_id").to_pylist(), dtype=object)
        ts = p.column("ts").to_numpy()
        return [(curves[i], np.sort(ts[d == i])) for i in ids]

    def kernel_controls(self, budget_s: float = 0.6) -> dict:
        """Direct no-Spark calls of the battery, the per-window evaluator
        and the fast periodogram on this workload's own curves, in this
        process: the kernel share of the Python-side time."""
        from light_curve_python_spark.functions.battery import PrefixBattery
        from light_curve_python_spark.functions.fastperiodogram import (
            lomb_scargle_power_fast)
        from light_curve_python_spark.functions.kernels import (
            evaluate_many, make_kernel, periodogram_freq_grid)
        kernels = [make_kernel(k) for k in FULL_BATTERY]
        battery = PrefixBattery(kernels)
        sample = self.control_curves(8)
        np.seterr(all="ignore")

        def windows(c):
            (t, m, s), ts = c
            hi = np.searchsorted(t, ts, side="right")
            lo = (np.searchsorted(t, ts - HORIZON, side="left")
                  if self.horizon is not None else np.zeros_like(hi))
            return list(zip(lo, hi))

        def rate(fn) -> float:
            done, t0 = 0, time.perf_counter()
            while True:
                for c in sample:
                    done += fn(c)
                el = time.perf_counter() - t0
                if el >= budget_s:
                    return done / el

        def prefixes(c):
            (t, m, s), ts = c
            ends = np.searchsorted(t, ts, side="right")
            battery.evaluate_prefixes(t, m, s, ends)
            return len(ends)

        def per_window(c):
            (t, m, s), _ = c
            w = windows(c)
            for lo, hi in w:
                evaluate_many(kernels, t[lo:hi], m[lo:hi], s[lo:hi])
            return len(w)

        def periodogram(c):
            (t, m, _), _ = c
            f = periodogram_freq_grid(t, 10.0, 1.0, "average")
            y = (m - m.mean()) / m.std(ddof=1)
            lomb_scargle_power_fast(t, y, f[0], len(f))
            return 1

        self.control_rates = {
            "battery.vectors_per_s": rate(prefixes),
            "kernels.windows_per_s": rate(per_window),
            "fastperiodogram.curves_per_s": rate(periodogram)}
        return self.control_rates

    horizon: float | None = None
    control_rates: dict = {}

    def kernel_vectors(self) -> dict:
        """Kernel work of one repetition, for the kernel-time estimate:
        {control metric: units of work}."""
        return {}


class PitExpanding(Workload):
    name = "pit_expanding"
    unit = "feature vectors"
    scaling = True
    curve_spec = CurveSpec(entities_per_shard=100, obs_lo=60, obs_hi=240,
                           probes_per_entity=48)

    def buckets(self, part: str) -> int:
        """Four buckets per core of the leg that reads the part, so a task
        holds the same number of entities in both scaling legs."""
        return 4 * (self.cores if part == "all" else 1)

    def _wh(self) -> str:
        return os.path.join(self.work, "wh")

    def stage(self, spark, parts) -> None:
        """doc_id-bucketed copies (the Iceberg bucket(N, doc_id) analog):
        the PIT cogroup then plans zero exchanges."""
        spark.sql(f"CREATE DATABASE IF NOT EXISTS pb LOCATION '{self._wh()}'")
        for part in parts:
            spark.read.parquet(self.path(part, "observations")).write \
                .mode("overwrite").format("parquet") \
                .bucketBy(self.buckets(part), "doc_id").sortBy("doc_id", "t") \
                .saveAsTable(f"pb.obs_{part}")
            spark.read.parquet(self.path(part, "probes")).write \
                .mode("overwrite").format("parquet") \
                .bucketBy(self.buckets(part), "doc_id") \
                .saveAsTable(f"pb.probes_{part}")

    def register(self, spark, part: str) -> None:
        wh, nb = self._wh(), self.buckets(part)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS pb LOCATION '{wh}'")
        spark.sql(f"""CREATE TABLE IF NOT EXISTS pb.obs_{part}
            (doc_id STRING, t DOUBLE, m DOUBLE, sigma DOUBLE, band STRING)
            USING parquet CLUSTERED BY (doc_id) SORTED BY (doc_id, t)
            INTO {nb} BUCKETS LOCATION '{wh}/obs_{part}'""")
        spark.sql(f"""CREATE TABLE IF NOT EXISTS pb.probes_{part}
            (doc_id STRING, ts DOUBLE, tokens ARRAY<INT>, n_tok INT,
             source STRING)
            USING parquet CLUSTERED BY (doc_id)
            INTO {nb} BUCKETS LOCATION '{wh}/probes_{part}'""")
        self.obs = spark.table(f"pb.obs_{part}")
        self.probes = spark.table(f"pb.probes_{part}")
        self.part = part

    def _job(self, probes):
        from light_curve_python_spark.operators.extract import (
            FeatureExtractor)
        return FeatureExtractor(FULL_BATTERY).extract_point_in_time(
            self.obs, probes)

    def warmup(self, spark, tr) -> None:
        noop(self._job(self.probes.sample(0.05, seed=1)))

    def run(self, spark, tr) -> int:
        self.op(tr, "extract", "extract_point_in_time",
                lambda: self._job(self.probes))
        return self.rows[self.part]

    def kernel_vectors(self) -> dict:
        return {"battery.vectors_per_s": self.summary["probes_rows"]}

    def check(self, spark) -> list:
        out_dir = os.path.join(self.work, "check", self.name)
        self._job(self.probes).write.mode("overwrite").parquet(out_dir)
        out = oracles.read_dir(out_dir)
        return _pit_checks(self, out, None)


def _pit_checks(w: Workload, out, horizon) -> list:
    from light_curve_python_spark.functions.kernels import make_kernel
    from light_curve_python_spark.operators.extract import FeatureExtractor
    obs_path = w.path("all", "observations")
    con = oracles.connect()
    try:
        checks = [
            oracles.row_count("rows", out.num_rows,
                              w.summary["probes_rows"]),
            oracles.window_counts(con, out, obs_path, horizon),
            oracles.payload_bytes(out, w.path("all", "probes")),
        ]
    finally:
        con.close()
    ids = oracles.sample_ids(out.column("doc_id").to_pylist(),
                             N_CHECK_ENTITIES, w.seed)
    names = FeatureExtractor(FULL_BATTERY).names
    checks.append(oracles.battery_windows(
        out, obs_path, names, [make_kernel(k) for k in FULL_BATTERY],
        horizon, ids))
    return checks


class BatchCkpt(Workload):
    """Everything the flagship leaves idle, one job after another:
    range-horizon PIT + as-of join through ``CheckpointedRun`` (pandas
    cogroup route, uid join-back, exchange, parquet write + manifest), a
    ``grouped_map_batches`` shape and the posting-list pair core.  Every
    job writes parquet; the checks read what the last timed repetition
    wrote."""
    name = "batch_ckpt"
    unit = "records"          # probes + entities + documents
    curve_spec = CurveSpec(entities_per_shard=12, obs_lo=60, obs_hi=240,
                           probes_per_entity=12)
    doc_spec = DocSpec(docs_per_shard=160)
    horizon = HORIZON
    threshold = 0.5
    pair_cap = 256            # ngram_jaccard_pairs' default df cap

    def count_rows(self, part: str) -> int:
        import pyarrow.parquet as pq
        entities = pq.read_table(self.path(part, "observations"),
                                 columns=["doc_id"]).column("doc_id")
        return (len(entities.unique())
                + pq.read_metadata(self.path(part, "probes")).num_rows
                + pq.read_metadata(self.path(part, "documents")).num_rows)

    @property
    def n_buckets(self) -> int:
        """One checkpoint bucket per core; each bucket repeats the obs
        rescan, the write, the read-back count and the manifest commit."""
        return self.cores

    def out_dir(self, fn: str = "ckpt") -> str:
        return os.path.join(self.work, "out", fn)

    def register(self, spark, part: str) -> None:
        self.inputs = self._inputs(spark, part)
        self.part = part

    def _inputs(self, spark, part: str) -> dict:
        obs = spark.read.parquet(self.path(part, "observations"))
        return {
            "obs": obs,
            "probes": spark.read.parquet(self.path(part, "probes")),
            "docs": spark.read.parquet(self.path(part, "documents")),
            "docs_dir": os.path.dirname(self.path(part, "documents")),
        }

    def before_rep(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    # ---- the checkpointed horizon PIT -------------------------------------

    def _compute(self, tr, obs):
        from light_curve_python_spark.operators.asof import asof_join
        from light_curve_python_spark.operators.extract import (
            FeatureExtractor)
        ex = FeatureExtractor(FULL_BATTERY)

        def compute(subset):
            with tr.span("extract.extract_point_in_time.plan", "plan"):
                feats = ex.extract_point_in_time(obs, subset,
                                                 horizon=HORIZON)
            with tr.span("windows.asof_join.plan", "plan"):
                return asof_join(feats, obs.select("doc_id", "t", "m"),
                                 on="doc_id", left_ts="ts", right_ts="t",
                                 value_cols=["m"])
        return compute

    def checkpointed(self, out=None, n_buckets=None):
        from light_curve_python_spark.plans.checkpoint import CheckpointedRun
        spec = json.dumps({"features": FULL_BATTERY, "horizon": HORIZON})
        return CheckpointedRun(out or self.out_dir(), key_col="doc_id",
                               n_buckets=n_buckets or self.n_buckets,
                               spec_json=spec)

    def resume_seconds(self) -> float:
        """A re-run over the finished output: every bucket is committed, so
        this is manifest read + compatibility check only."""
        t0 = time.perf_counter()
        self.checkpointed().run(self.inputs["probes"], lambda s: s)
        return time.perf_counter() - t0

    def manifest(self) -> list:
        with open(os.path.join(self.out_dir(), "_manifest.jsonl")) as f:
            return [json.loads(line) for line in f if line.strip()]

    # ---- the batch jobs ------------------------------------------------------

    def jobs(self, inp: dict):
        """(layer, fn, build) of every batch transform, in run order."""
        from light_curve_python_spark.operators.dedup import (
            ngram_jaccard_pairs)
        from light_curve_python_spark.operators.spectral import (
            periodogram_freq_power)
        obs, docs = inp["obs"], inp["docs"]
        return [
            ("grouped", "periodogram_freq_power",
             lambda: periodogram_freq_power(obs)),
            ("dedup", "ngram_jaccard_pairs",
             lambda: ngram_jaccard_pairs(docs, k=3,
                                         threshold=self.threshold,
                                         max_shingle_df=self.pair_cap)),
        ]

    def warmup(self, spark, tr) -> None:
        # every job once on the small warm-up part: Python workers, codegen
        # and the first touch of every plan shape
        inp = self._inputs(spark, "warm")
        out = os.path.join(self.work, "warm-ckpt")
        shutil.rmtree(out, ignore_errors=True)
        self.checkpointed(out, 1).run(inp["probes"],
                                      self._compute(tr, inp["obs"]))
        for _, _, build in self.jobs(inp):
            noop(build())

    def run(self, spark, tr) -> int:
        with tr.span("checkpoint.run", "checkpoint"):
            self.checkpointed().run(self.inputs["probes"],
                                    self._compute(tr, self.inputs["obs"]))
        for layer, fn, build in self.jobs(self.inputs):
            path = self.out_dir(fn)
            self.op(tr, layer, fn, build,
                    lambda df: df.write.mode("overwrite").parquet(path))
        return self.rows[self.part]

    def kernel_vectors(self) -> dict:
        n = self.summary["entities"]
        # horizon PIT: one per-window battery per probe; periodogram: one
        # curve per entity
        return {"kernels.windows_per_s": self.summary["probes_rows"],
                "fastperiodogram.curves_per_s": n}

    def check(self, spark) -> list:
        """Checks the outputs the last timed repetition wrote."""
        obs_path = self.path("all", "observations")
        docs_path = self.path("all", "documents")
        out = oracles.read_dir(self.out_dir())
        checks = [oracles.row_count(
            "checkpoint.read_back",
            self.checkpointed().read(spark).count(),
            self.summary["probes_rows"])]
        checks += _pit_checks(self, out, HORIZON)
        tables = {fn: oracles.read_dir(self.out_dir(fn))
                  for fn in ("periodogram_freq_power", "ngram_jaccard_pairs")}
        self.pairs_out = tables["ngram_jaccard_pairs"].num_rows
        n = self.summary["entities"]
        pgram = tables["periodogram_freq_power"]
        ids = oracles.sample_ids(pgram.column("doc_id").to_pylist(),
                                 N_CHECK_ENTITIES, self.seed)
        checks += [oracles.row_count("periodogram_freq_power.rows",
                                     pgram.num_rows, n),
                   oracles.periodograms(pgram, obs_path, ids)]
        con = oracles.connect()
        try:
            checks += [
                oracles.asof_values(con, self.out_dir(), obs_path),
                oracles.jaccard_pairs(con, self.out_dir("ngram_jaccard_pairs"),
                                      docs_path, self.threshold,
                                      self.pair_cap),
            ]
        finally:
            con.close()
        return checks


WORKLOADS = {w.name: w for w in (PitExpanding, BatchCkpt)}
