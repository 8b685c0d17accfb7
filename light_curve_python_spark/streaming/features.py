"""Streaming point-in-time feature extraction (the north rule's PIT
features as a live stream): per entity, emit the feature vector over all
observations with t <= the arriving row's t — exactly what the batch
engine computes per probe — by carrying running sufficient statistics in
``applyInPandasWithState`` state.

Features maintained from O(1) state (n, Welford mean/M2, Σw, Σwm, min,
max, last_t): observation_count, mean, standard_deviation (ddof=1), amplitude,
weighted_mean, duration, maximum_time_interval — the moment family whose
sufficient statistics fold associatively (quantile-family features need
the full window and stay batch-side).  Within a micro-batch rows are
processed in event-time order; state carries across micro-batches and
restarts (checkpointed by Spark).  Zero temporal leakage by construction:
a row's output is computed BEFORE folding any later row.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import drop_zip_importers

__all__ = ["streaming_pit_features", "STREAM_FEATURE_NAMES",
           "streaming_quantile_features", "QUANTILE_STREAM_NAMES"]

STREAM_FEATURE_NAMES = ("observation_count", "mean", "standard_deviation",
                        "amplitude", "weighted_mean", "duration",
                        "maximum_time_interval")


def _output_schema(key_field: T.StructField, ts_col: str,
                   names=STREAM_FEATURE_NAMES) -> T.StructType:
    return T.StructType(
        [key_field, T.StructField(ts_col, T.DoubleType())]
        + [T.StructField(n, T.DoubleType()) for n in names])


# Welford (mean, M2) instead of raw (Σm, Σm²): the sum-of-squares
# variance (sm2 - sm²/n) cancels catastrophically for large-magnitude m
# (flux ~1e8 with spread ~1 emits 0.0 or noise); Welford folds stably.
# NB: this changed the checkpointed state layout — streams checkpointed
# under the old (sm, sm2) schema cannot resume on this version.
STATE_SCHEMA = T.StructType([
    T.StructField(n, T.DoubleType())
    for n in ("n", "mean", "m2", "sw", "swm", "mn", "mx",
              "t0", "last_t", "max_dt")])


def streaming_pit_features(obs: DataFrame, key_col: str = "doc_id",
                           t_col: str = "t", m_col: str = "m",
                           sigma_col: str = "sigma",
                           late_policy: str = "drop") -> DataFrame:
    """One output row per observation: the moment-family feature vector of
    the entity's history INCLUDING that observation (emit-after-fold; use
    lag semantics downstream if strictly-before is needed).

    Rows within a micro-batch are processed in event-time order, but a
    row arriving in a LATER micro-batch with t below the state's last
    folded t cannot be served leakage-free from O(1) state (its history
    already contains future points).  ``late_policy``:

    - ``'drop'`` (default): late rows emit nothing and are not folded —
      every emitted vector is a LEAK-FREE feature vector computed over
      the entity's on-time history only.  Batch equivalence holds
      exactly until the first cross-batch late row; after a drop, later
      vectors for that entity are missing the dropped observation that
      a batch PIT extractor would include (zero leakage is preserved,
      batch equality is not).  Pair with source-side watermarking if
      late data must be quantified or reprocessed.
    - ``'fold'``: fold and emit anyway — the vector is over ARRIVAL
      order, leaking the already-folded future rows (duration/max_dt can
      go negative); only for pipelines that explicitly want running
      arrival-order stats."""
    if late_policy not in ("drop", "fold"):
        raise ValueError("late_policy must be 'drop' or 'fold'")
    out_schema = _output_schema(obs.schema[key_col], t_col)

    def fn(key: Tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        if state.exists:
            (n, mean, m2, sw, swm, mn, mx, t0, last_t, max_dt) = state.get
        else:
            n = mean = m2 = sw = swm = 0.0
            mn = math.inf
            mx = -math.inf
            t0 = last_t = math.nan
            max_dt = math.nan
        rows = pd.concat(list(pdfs), ignore_index=True) \
            .sort_values(t_col, kind="mergesort")
        out = {c: [] for c in (t_col,) + STREAM_FEATURE_NAMES}
        for t, m, s in zip(rows[t_col], rows[m_col], rows[sigma_col]):
            if not math.isfinite(t):
                # a NaN/null event time would poison last_t and silently
                # DISABLE the late-row guard for every later batch (NaN
                # comparisons are all False) — skip the row instead
                continue
            if late_policy == "drop" and not math.isnan(last_t) \
                    and t < last_t:
                continue      # late cross-batch row: unservable leak-free
            if m is None or not math.isfinite(m):
                # a NaN/null m would poison the folded moments FOREVER
                # (unlike a batch window, state never forgets) — skip the
                # row entirely, like the quantile twin below
                continue
            n += 1.0
            delta = m - mean
            mean += delta / n
            m2 += delta * (m - mean)
            # zero/NaN sigma is a missing-error sentinel: folding an
            # infinite/NaN weight would NaN the weighted mean for every
            # later emission; such rows contribute to the unweighted
            # moments only (documented streaming divergence — the batch
            # kernel NaNs exactly the windows containing the row)
            if s is not None and math.isfinite(s) and s > 0.0:
                w = s ** -2.0
                sw += w
                swm += w * m
            mn = min(mn, m)
            mx = max(mx, m)
            if math.isnan(t0):
                t0 = t
            else:
                dt = t - last_t
                max_dt = dt if math.isnan(max_dt) else max(max_dt, dt)
            last_t = t
            out[t_col].append(t)
            out["observation_count"].append(n)
            out["mean"].append(mean)
            out["standard_deviation"].append(
                math.sqrt(max(m2, 0.0) / (n - 1.0)) if n > 1
                else math.nan)
            out["amplitude"].append(0.5 * (mx - mn))
            out["weighted_mean"].append(swm / sw if sw > 0.0
                                        else math.nan)
            out["duration"].append(t - t0)
            out["maximum_time_interval"].append(max_dt)
        state.update((n, mean, m2, sw, swm, mn, mx, t0, last_t, max_dt))
        res = pd.DataFrame(out)
        res.insert(0, key_col, key[0])
        yield res

    return (obs.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


# --- quantile family from bounded state --------------------------------------

QUANTILE_STREAM_NAMES = ("observation_count", "median",
                         "inter_percentile_range", "q05", "q95",
                         "quantile_err_bound")

_HALF_MAX = 8.988465674311579e307    # DBL_MAX / 2: keeps hi - lo finite

_QSTATE_SCHEMA = T.StructType([
    T.StructField("lo", T.DoubleType()),
    T.StructField("hi", T.DoubleType()),
    T.StructField("last_t", T.DoubleType()),
    T.StructField("n_bins", T.IntegerType()),
    T.StructField("counts", T.BinaryType()),
])


def _hist_quantiles(counts, lo, width, n, qs):
    """Hazen quantile estimates for all ``qs`` at once: interpolate
    between the two bracketing ORDER-STATISTIC estimates (the true k-th
    order statistic lies in the bin where the cumulative count reaches
    k, so each estimate — and their convex combination — is within one
    bin width of its true value; interpolating cumulative position
    directly would be off by the full gap between adjacent order
    statistics, not by a bin).  One cumsum + vectorized searchsorted per
    call — this runs once per observation in the streaming hot path."""
    cum = np.cumsum(counts)
    h = np.clip(np.asarray(qs, dtype=np.float64) * n - 0.5, 0.0, n - 1.0)
    k = np.floor(h).astype(np.int64)
    frac = h - k

    def order_stat(ranks):
        idx = np.searchsorted(cum, ranks)       # first bin with cum >= rank
        prev = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0)
        return lo + (idx + (ranks - prev - 0.5) / counts[idx]) * width

    x0 = order_stat(k + 1)
    x1 = order_stat(np.minimum(k + 2, np.int64(n)))
    return (1.0 - frac) * x0 + frac * x1


def streaming_quantile_features(obs: DataFrame, key_col: str = "doc_id",
                                t_col: str = "t", m_col: str = "m",
                                bins: int = 256,
                                late_policy: str = "drop") -> DataFrame:
    """Quantile-family PIT features from BOUNDED state — the family
    ``streaming_pit_features`` cannot serve from O(1) moments.  Per
    entity the state is a ``bins``-cell equi-width histogram whose range
    doubles (merging bin pairs) whenever a value lands outside, so state
    stays O(bins) regardless of history length.

    Emits per observation: observation_count, median,
    inter_percentile_range (q75 - q25), q05, q95, and
    ``quantile_err_bound`` — the self-describing ERROR CONTRACT: every
    quantile estimate is within ``2 * (hi - lo) / bins`` (two bin
    widths — one for the histogram's value resolution, one for the
    rank-interpolation straddle) of the exact Hazen quantile of the same
    history, and the bound is emitted alongside the estimates so
    downstream consumers never guess.  The range only ever doubles, so
    ``hi - lo < 4 * true_range`` and the bound stays proportional to the
    entity's actual value spread.  Estimates are deterministic (no
    sampling) and independent of micro-batch boundaries for on-time
    rows.

    ``late_policy`` follows ``streaming_pit_features`` ('drop' keeps the
    zero-leakage guarantee; 'fold' is arrival-order)."""
    if late_policy not in ("drop", "fold"):
        raise ValueError("late_policy must be 'drop' or 'fold'")
    if bins < 2 or bins % 2 != 0:
        # range doubling merges bin PAIRS; an odd count would crash at
        # the first expansion, mid-stream, after state was committed
        raise ValueError("bins must be an even number >= 2")
    out_schema = _output_schema(obs.schema[key_col], t_col,
                                QUANTILE_STREAM_NAMES)

    def fn(key: Tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        if state.exists:
            lo, hi, last_t, state_bins, blob = state.get
            if state_bins != bins:
                # the blob layout is bins-dependent: resuming a
                # checkpoint with a different bins would silently drop
                # half the mass (smaller) or crash mid-batch (larger)
                raise ValueError(
                    f"checkpointed state was written with bins="
                    f"{state_bins}; restart with the same value "
                    f"(got {bins})")
            counts = np.frombuffer(blob, dtype=np.int64).copy()
        else:
            lo = hi = math.nan
            counts = np.zeros(bins, dtype=np.int64)
            last_t = math.nan

        def _bin(x, width):
            if width <= 0.0:
                # subnormal spread: (hi-lo)/bins can underflow to 0 for
                # hi > lo — everything lands in cell 0 and the estimate
                # degrades gracefully to lo (err bound hi-lo, itself
                # subnormal) instead of dividing by zero mid-stream
                return 0
            return min(max(int((x - lo) / width), 0), bins - 1)

        def fold(v):
            # invariant: counts always carries ALL folded mass — in the
            # degenerate (single distinct value) phase it sits in bin 0
            nonlocal lo, hi, counts
            # keep hi - lo representable: magnitudes beyond DBL_MAX/2
            # clamp into the boundary cells (the error contract does not
            # cover such inputs; without the clamp the doubling loop
            # overflows lo/hi to +/-inf and int(nan) kills the stream)
            v = min(max(v, -_HALF_MAX), _HALF_MAX)
            if math.isnan(lo):
                lo = hi = v
                counts[0] += 1
                return
            if hi == lo:
                if v == lo:
                    counts[0] += 1
                    return
                seed_n, seed_v = counts[0], lo
                counts[0] = 0
                lo, hi = min(lo, v), max(hi, v)
                width = (hi - lo) / bins
                counts[_bin(seed_v, width)] = seed_n
                counts[_bin(v, width)] += 1
                return
            while v < lo or v >= hi:
                # double the range, merging bin pairs (old mass maps to
                # the upper/lower half) — state stays O(bins) forever
                if (v < lo and lo <= -_HALF_MAX) \
                        or (v >= hi and hi >= _HALF_MAX):
                    break            # fully clamped; _bin clamps the index
                width = hi - lo
                merged = counts.reshape(bins // 2, 2).sum(axis=1)
                counts[:] = 0
                if v < lo:
                    counts[bins // 2:] = merged
                    lo = max(lo - width, -_HALF_MAX)
                else:
                    counts[:bins // 2] = merged
                    hi = min(hi + width, _HALF_MAX)
            counts[_bin(v, (hi - lo) / bins)] += 1

        rows = pd.concat(list(pdfs), ignore_index=True) \
            .sort_values(t_col, kind="mergesort")
        out = {c: [] for c in (t_col,) + QUANTILE_STREAM_NAMES}
        n = float(counts.sum())     # incremental below: one fold = +1
        for t, m in zip(rows[t_col], rows[m_col]):
            if not math.isfinite(t):
                # a NaN/null event time would poison last_t and silently
                # DISABLE the late-row guard for every later batch (NaN
                # comparisons are all False) — skip the row instead
                continue
            if late_policy == "drop" and not math.isnan(last_t) \
                    and t < last_t:
                continue
            if not math.isfinite(m):
                # a non-finite value has no histogram cell; folding it
                # would crash mid-stream — skip it (and emit nothing for
                # it), mirroring the upstream finite-validation contract
                continue
            last_t = t
            fold(m)
            n += 1.0
            width = (hi - lo) / bins
            if width <= 0.0:
                # identical values, or subnormal spread (see _bin)
                q05 = q25 = q50 = q75 = q95 = lo
                err = hi - lo
            else:
                q05, q25, q50, q75, q95 = _hist_quantiles(
                    counts, lo, width, n, (0.05, 0.25, 0.5, 0.75, 0.95))
                err = 2.0 * width
            out[t_col].append(t)
            out["observation_count"].append(n)
            out["median"].append(q50)
            out["inter_percentile_range"].append(q75 - q25)
            out["q05"].append(q05)
            out["q95"].append(q95)
            out["quantile_err_bound"].append(err)
        state.update((float(lo), float(hi), float(last_t), bins,
                      counts.tobytes()))
        res = pd.DataFrame(out)
        res.insert(0, key_col, key[0])
        yield res

    return (obs.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, _QSTATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))
