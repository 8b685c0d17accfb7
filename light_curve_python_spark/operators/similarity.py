"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact baseline.  The probe side is broadcast, the
  corpus side streams — at 100 TB the corpus never shuffles; cost is one scan
  per probe batch.  Cosines run as one vectorized Arrow batch per task
  (measured ~2x the JVM aggregate/zip_with HOF at 64-dim — the HOF lambda
  is interpreted per element).
- lsh_topk: random-hyperplane LSH scale path — hyperplanes are derived
  deterministically from a seed (driver-side numpy, broadcast in the plan as
  literals), signatures computed with a vectorized pandas UDF (one matmul per
  Arrow batch), candidates restricted to matching buckets, then exact cosine
  re-rank.  Recall is tunable via n_planes/n_tables.
- tune_ann: picks the cheapest (lsh or ivf) operating point meeting a
  target recall, measured on a probe sample against the exact baseline;
  falls back to recommending the exact path when no approximate point
  under the cost cap reaches the target.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..plans.balance import rebalance_scan
from ..session import drop_zip_importers

__all__ = ["cosine_topk", "lsh_topk", "ivf_topk", "with_l2_norm",
           "ivf_train_centers", "ann_recall", "tune_ann"]


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


@pandas_udf(T.DoubleType())
def _cosine_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over two array columns: one einsum + two norms
    per Arrow batch.  MEASURED faster than the JVM aggregate/zip_with
    HOF dot at 64-dim (sf0.1 re-rank of 82k pairs: 2.39 s HOF vs 1.29 s
    Arrow end-to-end, min-of-3) — the HOF lambda is interpreted per
    element, the Arrow batch is one BLAS-shaped pass."""
    drop_zip_importers()
    if not len(a):
        return pd.Series([], dtype="float64")
    an = a.to_numpy()
    bn = b.to_numpy()
    # null or ragged-length embeddings get NULL (ranked last under desc)
    # instead of blowing up the whole job in np.vstack — the JVM
    # expression this UDF replaced emitted NULL for such rows, and one
    # bad row must not kill a corpus-scale scan.  Mixed-but-equal-length
    # pairs are computed per length group (deterministic: each PAIR's
    # fate depends only on its own lengths, never on how rows were
    # batched).  The validity pass is O(rows); the vstack fast path
    # below is untouched for clean batches.
    lens_a = np.fromiter((-1 if v is None else len(v) for v in an),
                         np.int64, len(an))
    lens_b = np.fromiter((-1 if v is None else len(v) for v in bn),
                         np.int64, len(bn))
    good = (lens_a >= 0) & (lens_a == lens_b)
    if not (good.all() and len(np.unique(lens_a)) == 1):
        vals = np.full(len(an), np.nan)
        mask = np.ones(len(an), dtype=bool)
        for dim in np.unique(lens_a[good]):
            sel = good & (lens_a == dim)
            ma = np.vstack(an[sel])
            mb = np.vstack(bn[sel])
            num = np.einsum("ij,ij->i", ma, mb)
            den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
            zero = den == 0.0
            vals[sel] = num / np.where(zero, 1.0, den)
            si = np.nonzero(sel)[0]
            mask[si[~zero]] = False
        return pd.Series(pd.arrays.FloatingArray(vals, mask))
    ma = np.vstack(an)
    mb = np.vstack(bn)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    # zero-norm vectors get NULL, matching the former JVM x/0.0 — a NaN
    # here would sort FIRST under the desc() rank window (Spark orders
    # NaN above every other double) and outrank every real neighbor
    zero = den == 0.0
    vals = num / np.where(zero, 1.0, den)
    return pd.Series(pd.arrays.FloatingArray(vals, zero))


def with_l2_norm(df: DataFrame, vec_col: str = "embedding",
                 out_col: str = "_norm") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn(out_col, F.sqrt(_dot(v, v)))


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each probe row.  Returns
    (probe_id, rank, neighbor_id, cosine)."""
    # the per-corpus-row work below is |probes| cosines — rebalance a
    # few-split scan so it does not serialize on one task (no-op at scale)
    c = rebalance_scan(corpus) \
        .select(F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("_cv"))
    p = probes.select(F.col(id_col).alias("probe_id"),
                      F.col(vec_col).cast("array<double>").alias("_pv"))
    pairs = (c.crossJoin(F.broadcast(p))
             .filter(F.col("neighbor_id") != F.col("probe_id"))
             .withColumn("cosine", _cosine_pudf("_cv", "_pv")))
    pick = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(pick))
            .filter(F.col("rank") <= k)
            .select("probe_id", "rank", "neighbor_id", "cosine"))


def ivf_train_centers(corpus: DataFrame, vec_col: str = "embedding",
                      n_cells: int = 16, seed: int = 42,
                      sample_fraction: float = 1.0) -> np.ndarray:
    """Train the IVF coarse quantizer once (KMeans on a corpus sample) and
    return its (n_cells, dim) centroid matrix — reusable across
    ``ivf_topk`` calls with different ``n_probe_cells`` (the tuning
    ladder never retrains)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_fv"))
    if sample_fraction < 1.0:
        train = train.sample(sample_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, featuresCol="_fv").fit(train)
    return np.vstack([np.asarray(c) for c in model.clusterCenters()])


def ivf_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_cells: int = 16, n_probe_cells: int = 3,
             seed: int = 42, sample_fraction: float = 1.0,
             centers: Optional[np.ndarray] = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer
    (pyspark.ml, trained on a corpus sample), corpus rows assigned to their
    nearest cell, probe rows search only their ``n_probe_cells`` nearest
    cells, exact cosine re-rank inside.

    Scale shape: the quantizer is tiny (n_cells centroids broadcast in the
    assignment join); the search join hits ~n_probe_cells/n_cells of the
    corpus instead of all of it.  Pass ``centers`` (from
    ``ivf_train_centers``) to skip training.
    """
    if centers is None:
        centers = ivf_train_centers(corpus, vec_col, n_cells, seed,
                                    sample_fraction)
    else:
        centers = np.asarray(centers, dtype=np.float64)
        n_cells = len(centers)

    def _cells(df, vec_alias, n_keep):
        """attach the n_keep nearest cell ids per row (tiny centroid matrix
        lives in the plan as a literal via pandas UDF)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(T.ArrayType(T.IntegerType()))
        def nearest_cells(vecs: pd.Series) -> pd.Series:
            drop_zip_importers()
            mat = np.vstack(vecs.to_numpy())
            d = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d, axis=1)[:, :n_keep].astype(np.int32)
            return pd.Series(list(order))

        return df.withColumn("_cells", nearest_cells(vec_alias))

    # few-split corpus scans would serialize assignment + search on one
    # task; no-op at production split counts
    c = rebalance_scan(corpus) \
        .select(F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("_cv"))
    c = _cells(c, "_cv", 1).withColumn("_cell", F.col("_cells")[0]) \
        .drop("_cells")
    p = probes.select(F.col(id_col).alias("probe_id"),
                      F.col(vec_col).cast("array<double>").alias("_pv"))
    p = _cells(p, "_pv", n_probe_cells) \
        .withColumn("_cell", F.explode("_cells")).drop("_cells")

    cands = (c.join(F.broadcast(p), "_cell")
             .filter(F.col("neighbor_id") != F.col("probe_id"))
             .dropDuplicates(["probe_id", "neighbor_id"]))
    scored = cands.withColumn("cosine", _cosine_pudf("_cv", "_pv"))
    pick = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(pick))
            .filter(F.col("rank") <= k)
            .select("probe_id", "rank", "neighbor_id", "cosine"))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((dim, n_planes))


def _buckets_udf(dim: int, n_planes: int, seed: int, n_tables: int):
    """All tables' bucket ids in ONE vectorized pass: the per-table plane
    matrices (same seeds as before: seed + 1000*t) are stacked into one
    (dim, n_tables*n_planes) matrix — one matmul per Arrow batch total,
    instead of one UDF invocation per table per batch."""
    planes = np.concatenate(
        [_hyperplanes(dim, n_planes, seed + 1000 * t)
         for t in range(n_tables)], axis=1)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        drop_zip_importers()
        mat = np.vstack(vecs.to_numpy())
        signs = (mat @ planes) > 0
        bks = signs.reshape(len(mat), n_tables,
                            n_planes).astype(np.int64) @ weights
        return pd.Series(list(bks))

    return buckets


def lsh_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             dim: int = 64, n_planes: int = 8, seed: int = 42,
             n_tables: int = 2) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets (n_tables independent
    tables), exact cosine re-rank within the candidate union.

    Plan shape: one bucket-UDF pass over each side (all tables at once),
    candidates generated as SCALAR (probe_id, neighbor_id) pairs — the
    dedup across tables shuffles ids only, never embedding arrays — and
    vectors re-attached per-side for the exact re-rank (corpus-side hash
    join on its own id, probe side broadcast)."""
    udf = _buckets_udf(dim, n_planes, seed, n_tables)
    # few-split corpus scans would run the bucket pass and the
    # bucket-probe join on one task; no-op at production split counts
    c = rebalance_scan(corpus) \
        .select(F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("_cv"))
    p = probes.select(F.col(id_col).alias("probe_id"),
                      F.col(vec_col).cast("array<double>").alias("_pv"))
    cb = c.select("neighbor_id",
                  F.posexplode(udf("_cv")).alias("_tbl", "_bk"))
    pb = p.select("probe_id",
                  F.posexplode(udf("_pv")).alias("_tbl", "_bk"))
    cand = (cb.join(F.broadcast(pb), ["_tbl", "_bk"])
            .filter(F.col("neighbor_id") != F.col("probe_id"))
            .select("probe_id", "neighbor_id")
            .dropDuplicates(["probe_id", "neighbor_id"]))
    cands = cand.join(c, "neighbor_id").join(F.broadcast(p), "probe_id")
    scored = cands.withColumn("cosine", _cosine_pudf("_cv", "_pv"))
    pick = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(pick))
            .filter(F.col("rank") <= k)
            .select("probe_id", "rank", "neighbor_id", "cosine"))


def ann_recall(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """recall@k of an approximate top-k result against the exact baseline:
    mean over probes of |approx ∩ exact| / min(k, |exact|) — the
    denominator is the per-probe EXACT result size, so a probe whose
    corpus has fewer than k neighbors can still score 1.0 when the
    approximate path returns all of them.  Probes the approximate path
    returned nothing for count as recall 0 (left join from the exact
    probe set).  Distributed compute, collects ONE scalar."""
    hits = (approx.select("probe_id", "neighbor_id")
            .join(exact.select("probe_id", "neighbor_id"),
                  ["probe_id", "neighbor_id"])
            .groupBy("probe_id").agg(F.count("*").alias("_h")))
    denom = (exact.groupBy("probe_id")
             .agg(F.least(F.count("*"), F.lit(k)).alias("_d")))
    per_probe = (denom.join(hits, "probe_id", "left")
                 .select((F.coalesce(F.col("_h"), F.lit(0)) / F.col("_d"))
                         .alias("_r")))
    return float(per_probe.agg(F.avg("_r")).collect()[0][0])


# (n_planes, n_tables) pairs; cost = n_tables / 2^n_planes of one exact
# corpus scan (derived in tune_ann), assuming balanced buckets — ordered
# cheap→dear
_LSH_LADDER = [(8, 2), (8, 4), (6, 4), (6, 8), (4, 8), (4, 16),
               (3, 16), (2, 8), (2, 16)]


def tune_ann(corpus: DataFrame, probes: DataFrame, k: int = 10,
             target_recall: float = 0.9, n_sample_probes: int = 50,
             dim: int = 64, seed: int = 42, max_cost: float = 1.0,
             lsh_ladder=None, ivf_cells: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id") -> dict:
    """Pick an ANN operating point that meets ``target_recall``, measured
    on a deterministic probe sample against the exact baseline — the
    quality knob for the 100-TB path, where the full exact baseline is
    unaffordable but a 50-probe sample of it is one broadcast scan.

    Walks the LSH ladder (cheap→dear by estimated cost = n_tables /
    2^n_planes scans) and the IVF probe-cell ladder (cost = n_probe_cells /
    n_cells, quantizer trained ONCE via ``ivf_train_centers``), measuring
    recall@k on the sample each step; returns the first (cheapest) point
    meeting the target.  If no approximate point with estimated cost ≤
    ``max_cost`` reaches the target, HONESTLY recommends the exact path
    (method='exact', cost 1.0, recall 1.0) — on weakly-clustered corpora
    (top-k cosine ~0.3, θ≈70°) hyperplane LSH needs ≥1 full-scan-equivalent
    to hit 0.9 and pretending otherwise would ship silent quality loss.

    Returns {method, params, recall_sample, est_cost_multiple,
    n_sample_probes, k, ladder} where ladder is every point measured
    (operating curve for the caller's record)."""
    sample = (probes.orderBy(F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.col(id_col).cast("string"))))
        .limit(n_sample_probes).cache())
    exact = cosine_topk(corpus, sample, k, vec_col, id_col).cache()
    exact.count()

    measured = []

    def consider(method, params, est_cost, approx_df):
        r = ann_recall(approx_df, exact, k)
        measured.append({"method": method, "params": params,
                         "recall_sample": round(r, 3),
                         "est_cost_multiple": round(est_cost, 3)})
        return r

    candidates = []
    ladder = _LSH_LADDER if lsh_ladder is None else lsh_ladder
    for n_planes, n_tables in ladder:
        cost = n_tables / 2.0 ** n_planes
        if cost <= max_cost:
            candidates.append((cost, "lsh",
                               dict(n_planes=n_planes, n_tables=n_tables)))
    centers = None
    for n_probe_cells in sorted({c for c in (1, 2, 4, 8, ivf_cells)
                                 if c <= ivf_cells}):
        cost = n_probe_cells / float(ivf_cells)
        if cost <= max_cost:
            candidates.append((cost, "ivf",
                               dict(n_cells=ivf_cells,
                                    n_probe_cells=n_probe_cells)))
    try:
        for cost, method, params in sorted(candidates, key=lambda c: c[0]):
            if method == "lsh":
                approx = lsh_topk(corpus, sample, k, vec_col, id_col,
                                  dim=dim, seed=seed, **params)
            else:
                if centers is None:
                    centers = ivf_train_centers(corpus, vec_col, ivf_cells,
                                                seed)
                approx = ivf_topk(corpus, sample, k, vec_col, id_col,
                                  seed=seed, centers=centers,
                                  n_probe_cells=params["n_probe_cells"])
            r = consider(method, params, cost, approx)
            if r >= target_recall:
                return {"method": method, "params": params,
                        "recall_sample": round(r, 3),
                        "est_cost_multiple": round(cost, 3),
                        "n_sample_probes": n_sample_probes, "k": k,
                        "ladder": measured}
        return {"method": "exact", "params": {},
                "recall_sample": 1.0, "est_cost_multiple": 1.0,
                "n_sample_probes": n_sample_probes, "k": k,
                "ladder": measured}
    finally:
        sample.unpersist()
        exact.unpersist()
