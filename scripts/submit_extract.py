#!/usr/bin/env python
"""spark-submit entrypoint for the point-in-time feature-extraction engine.

Cluster usage (the north rule's packaging contract):

    zip -r lcps.zip light_curve_python_spark
    spark-submit --py-files lcps.zip scripts/submit_extract.py \\
        --obs hdfs:///observations/ --probes hdfs:///probes/ \\
        --output /mnt/shared/features \\
        --features amplitude stetson_k linear_fit otsu_split \\
        --entity-col doc_id --ts-col ts --n-buckets 256 --resume

Input paths go through spark.read (any Hadoop-FS scheme); --output must be
a posix/shared-fs path — the bucket manifest uses local file I/O
(CheckpointedRun validates this; an Iceberg deployment replaces the
manifest with snapshot summaries).  The run is checkpointed per probe
bucket (plans/checkpoint.py): lineage +
rows/sec metrics land in ``<output>/_manifest.jsonl`` and a crashed or
pre-empted job resumed with ``--resume`` recomputes only the buckets that
were in flight (at most four).  The extraction
itself is the engine's standard zero-leakage PIT plan (operators/extract.py);
hot-entity salting is exposed via ``--salt-partitions/--hot-threshold``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--obs", required=True,
                   help="parquet path: (entity, t, m, sigma[, band]); "
                        "pass --no-sigma for sigma-free tables")
    p.add_argument("--probes", required=True,
                   help="parquet path: (entity, ts, payload columns...)")
    p.add_argument("--output", required=True, help="output parquet path")
    p.add_argument("--features", nargs="+", required=True,
                   help="kernel registry keys (SURVEY.md §2.4)")
    p.add_argument("--entity-col", default="doc_id")
    p.add_argument("--t-col", default="t")
    p.add_argument("--m-col", default="m")
    p.add_argument("--sigma-col", default="sigma")
    p.add_argument("--no-sigma", action="store_true",
                   help="observations carry no sigma column (only "
                        "sigma-free features allowed)")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--horizon", type=float, default=None,
                   help="range-window horizon: window = [ts-H, ts]")
    p.add_argument("--fill-value", type=float, default=float("nan"))
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--hot-threshold", type=int, default=None)
    p.add_argument("--n-buckets", type=int, default=256,
                   help="checkpoint buckets (Iceberg bucket(N, entity)); "
                        "buckets run as concurrent Spark jobs, up to four "
                        "(or the cluster's default parallelism, if smaller) "
                        "at a time")
    p.add_argument("--resume", action="store_true",
                   help="skip buckets already committed in the manifest")
    p.add_argument("--master", default=None,
                   help="override master (default: cluster-provided)")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from light_curve_python_spark.plans.checkpoint import CheckpointedRun
    from light_curve_python_spark.plans.spec import FeatureSpec
    from light_curve_python_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="lcps-extract")
    spec = FeatureSpec.of(*args.features, fill_value=args.fill_value)
    ex = spec.to_extractor()
    obs = spark.read.parquet(args.obs)
    probes = spark.read.parquet(args.probes)

    if not args.resume:
        # CheckpointedRun accepts 'file:///abs' — rmtree on the raw URI
        # would silently no-op and the stale manifest would mark every
        # bucket committed, turning a fresh run into a no-op
        out_fs = args.output
        if out_fs.startswith("file://"):
            from urllib.parse import urlparse
            out_fs = urlparse(out_fs).path
        shutil.rmtree(out_fs, ignore_errors=True)
    run = CheckpointedRun(args.output, args.entity_col,
                          n_buckets=args.n_buckets,
                          spec_json=spec.to_json())

    sigma_col = None if args.no_sigma else args.sigma_col

    def compute(subset):
        return ex.extract_point_in_time(
            obs, subset, entity_col=args.entity_col, t_col=args.t_col,
            m_col=args.m_col, sigma_col=sigma_col, ts_col=args.ts_col,
            horizon=args.horizon, salt_partitions=args.salt_partitions,
            hot_threshold=args.hot_threshold)

    executed = run.run(probes, compute)
    total = run.read(spark).count()
    print(json.dumps({"buckets_executed": executed,
                      "buckets_total": args.n_buckets,
                      "rows": total, "output": args.output}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
