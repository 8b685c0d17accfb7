"""Array-valued per-entity operators: periodogram spectra and dense dm-dt
maps (the reference's ``freq_power()`` / ``DmDt.points`` / ``DmDt.gausses``
surfaces, src/features.rs:4632-4706 and src/dmdt.rs:156-420).

Each returns one row per entity with ``array<double>`` payloads — the Arrow
round trip keeps them columnar end to end.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.kernels import periodogram_power
from ..session import drop_zip_importers
from .dmdt import (count_dt_kernel, dmdt_gausses_kernel, dmdt_points_kernel,
                   normalize_dmdt)
from .grouped import grouped_map_batches, per_group

__all__ = ["periodogram_freq_power", "multiband_periodogram",
           "multiband_power", "dmdt_maps", "rainbow_fit"]


def periodogram_freq_power(obs: DataFrame, entity_col: str = "doc_id",
                           t_col: str = "t", m_col: str = "m",
                           resolution: float = 10.0,
                           max_freq_factor: float = 1.0,
                           nyquist="average",
                           normalization: str = "psd",
                           fast: bool = True) -> DataFrame:
    """(entity, freqs array, power array) — raw Lomb-Scargle grid per
    entity.  fast=True (the reference default) uses the Press-Rybicki FFT
    evaluator."""
    schema = T.StructType([
        obs.schema[entity_col],
        T.StructField("freqs", T.ArrayType(T.DoubleType()), False),
        T.StructField("power", T.ArrayType(T.DoubleType()), False),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[t_col].to_numpy(np.float64)
        order = np.argsort(t, kind="mergesort")
        t = t[order]
        m = pdf[m_col].to_numpy(np.float64)[order]
        freqs, power = periodogram_power(
            t, m, resolution=resolution, max_freq_factor=max_freq_factor,
            nyquist=nyquist, normalization=normalization, fast=fast)
        return pd.DataFrame({entity_col: [pdf[entity_col].iloc[0]],
                             "freqs": [freqs], "power": [power]})

    return grouped_map_batches(obs.select(entity_col, t_col, m_col),
                               entity_col, schema,
                               per_group(entity_col, fn))


def multiband_periodogram(obs: DataFrame, bands: Sequence[str],
                          entity_col: str = "doc_id", t_col: str = "t",
                          m_col: str = "m", sigma_col: str = "sigma",
                          band_col: str = "band", peaks: int = 1,
                          resolution: float = 10.0,
                          max_freq_factor: float = 1.0,
                          weighting: str = "chi2",
                          fast: bool = True) -> DataFrame:
    """Multiband Lomb-Scargle (src/features.rs:4219-4227, :4513-4543):
    per-band standardized powers on a shared frequency grid (grid from the
    full multi-band time sampling), combined as a weighted mean with weights
    'chi2' (per-band Σ((m-m̄)/σ)²) or 'count' (per-band n) — a textbook
    partial/final aggregate.  Outputs peak periods + S/N like the
    single-band kernel.

    fast=True (the reference's default algorithm) evaluates each band's
    power with the Press-Rybicki O(n log n) FFT estimator: the shared auto
    grid is exactly the fast evaluator's native zero-based linear layout,
    so each band drops straight in — at survey scale the direct O(n*n_f)
    sums are the same scale-killer the single-band kernel already
    eliminated."""
    import math as _math

    from ..functions.fastperiodogram import lomb_scargle_power_fast
    from ..functions.kernels import (
        lomb_scargle_power,
        periodogram_freq_grid,
        periodogram_peak_indices,
    )
    if weighting not in ("chi2", "count"):
        raise ValueError("weighting must be 'chi2' or 'count'")
    names = [x for i in range(peaks)
             for x in (f"period_{i}", f"period_s_to_n_{i}")]
    schema = T.StructType(
        [obs.schema[entity_col]]
        + [T.StructField(n, T.DoubleType()) for n in names])

    def eval_entity(t_all, m_all, s_all, b_all):
        order = np.argsort(t_all, kind="mergesort")
        t_all = t_all[order]
        m_all = m_all[order]
        s_all = s_all[order]
        b_all = b_all[order]
        freqs = periodogram_freq_grid(t_all, resolution, max_freq_factor)
        num = np.zeros(len(freqs))
        den = 0.0
        for b in bands:
            mask = b_all == b
            if mask.sum() < 3:
                continue
            t, m, s = t_all[mask], m_all[mask], s_all[mask]
            std = np.std(m, ddof=1)
            if std == 0:
                continue
            y = (m - np.mean(m)) / std
            if fast:
                p = lomb_scargle_power_fast(t, y, freqs[0], len(freqs))
            else:
                p = lomb_scargle_power(t, y, freqs)
            w = (float(np.sum(((m - np.mean(m)) / s) ** 2))
                 if weighting == "chi2" else float(len(m)))
            num += w * p
            den += w
        vals = np.full(2 * peaks, np.nan)
        if den > 0:
            power = num / den
            top = periodogram_peak_indices(power, peaks)
            p_mean = np.mean(power)
            p_std = np.std(power, ddof=1)
            for rank, i in enumerate(top):
                vals[2 * rank] = 2.0 * _math.pi / freqs[i]
                vals[2 * rank + 1] = (power[i] - p_mean) / p_std
        return vals

    # aggregate-then-map (see FeatureExtractor._extract_agg_arrow): one
    # list<struct> row per entity via hash agg — no partition sort, no
    # Python-side groupby over the scalar rows; per-band numerics are
    # unchanged (band subsequences are t-sorted either way)
    import pyarrow as pa
    from pyspark.sql import functions as F
    g = (obs.select(entity_col, t_col, m_col, sigma_col, band_col)
         .groupBy(entity_col)
         .agg(F.collect_list(F.struct(
             F.col(t_col).alias("t"), F.col(m_col).alias("m"),
             F.col(sigma_col).alias("s"), F.col(band_col).alias("b")))
             .alias("_curve")))

    def fn(batches):
        drop_zip_importers()
        for batch in batches:
            col = batch.column(batch.schema.names.index("_curve"))
            values = col.values
            offs = col.offsets.to_numpy()
            t_all = values.field(0).to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            m_all = values.field(1).to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            s_all = values.field(2).to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            b_all = values.field(3).to_numpy(zero_copy_only=False)
            nrows = len(col)
            feats = np.empty((nrows, 2 * peaks), dtype=np.float64)
            for i in range(nrows):
                sl = slice(offs[i], offs[i + 1])
                feats[i] = eval_entity(t_all[sl], m_all[sl],
                                       s_all[sl], b_all[sl])
            out_schema = pa.schema(
                [batch.schema.field(entity_col)]
                + [pa.field(n, pa.float64()) for n in names])
            # from_pandas=True: NaN -> SQL NULL, matching the replaced
            # pandas route's serializer (missing peaks were NULL there)
            arrays = [batch.column(batch.schema.names.index(entity_col))] \
                + [pa.array(feats[:, j], from_pandas=True)
                   for j in range(2 * peaks)]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return g.mapInArrow(fn, schema)


def multiband_power(obs: DataFrame, bands: Sequence[str],
                    freqs: Sequence[float], entity_col: str = "doc_id",
                    t_col: str = "t", m_col: str = "m",
                    sigma_col: str = "sigma", band_col: str = "band",
                    weighting: str = "chi2") -> DataFrame:
    """Raw multiband Lomb-Scargle power on an EXPLICIT angular-frequency
    grid: per-band standardized powers combined as the weighted mean with
    'chi2' (per-band Σ((m-m̄)/σ)²) or 'count' weights — the combine stage
    of multiband_periodogram (src/features.rs:4513-4543) exposed row-wise
    ``(entity, freq_idx, power)`` so an external engine can reproduce it
    in closed form (the driver's DuckDB twin).  Bands with fewer than 3
    observations or zero variance are skipped; entities with no usable
    band are dropped (both engines)."""
    from ..functions.kernels import lomb_scargle_power
    if weighting not in ("chi2", "count"):
        raise ValueError("weighting must be 'chi2' or 'count'")
    freqs_arr = np.asarray(list(freqs), dtype=np.float64)
    schema = T.StructType([
        obs.schema[entity_col],
        T.StructField("freq_idx", T.LongType(), False),
        T.StructField("power", T.DoubleType(), False),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t_all = pdf[t_col].to_numpy(np.float64)
        order = np.argsort(t_all, kind="mergesort")
        t_all = t_all[order]
        m_all = pdf[m_col].to_numpy(np.float64)[order]
        s_all = pdf[sigma_col].to_numpy(np.float64)[order]
        b_all = pdf[band_col].to_numpy()[order]
        num = np.zeros(len(freqs_arr))
        den = 0.0
        for b in bands:
            mask = b_all == b
            if mask.sum() < 3:
                continue
            t, m, s = t_all[mask], m_all[mask], s_all[mask]
            std = np.std(m, ddof=1)
            if std == 0:
                continue
            y = (m - np.mean(m)) / std
            p = lomb_scargle_power(t, y, freqs_arr)
            w = (float(np.sum(((m - np.mean(m)) / s) ** 2))
                 if weighting == "chi2" else float(len(m)))
            num += w * p
            den += w
        if den == 0:
            return pd.DataFrame({entity_col: pdf[entity_col].iloc[:0],
                                 "freq_idx": pd.Series([], dtype="int64"),
                                 "power": pd.Series([], dtype="float64")})
        return pd.DataFrame({
            entity_col: pdf[entity_col].iloc[0],
            "freq_idx": np.arange(len(freqs_arr), dtype=np.int64),
            "power": num / den})

    return grouped_map_batches(
        obs.select(entity_col, t_col, m_col, sigma_col, band_col),
        entity_col, schema, per_group(entity_col, fn))


def dmdt_maps(obs: DataFrame, entity_col: str = "doc_id", t_col: str = "t",
              m_col: str = "m", sigma_col: Optional[str] = None,
              dt_edges: Optional[Sequence[float]] = None,
              dm_edges: Optional[Sequence[float]] = None,
              norm: Sequence[str] = (),
              gausses: bool = False) -> DataFrame:
    """Dense per-entity dm-dt map flattened row-major into ``array<double>``
    plus the grid shape.  ``gausses=True`` uses the erf-smeared variant
    (requires sigma)."""
    dt_e = np.asarray(dt_edges if dt_edges is not None
                      else np.logspace(-1, 2, 17))
    dm_e = np.asarray(dm_edges if dm_edges is not None
                      else np.linspace(-2, 2, 17))
    cols = [entity_col, t_col, m_col]
    if gausses:
        if sigma_col is None:
            raise ValueError("gausses requires sigma_col")
        cols.append(sigma_col)
    schema = T.StructType([
        obs.schema[entity_col],
        T.StructField("dmdt", T.ArrayType(T.DoubleType()), False),
        T.StructField("n_dt", T.IntegerType(), False),
        T.StructField("n_dm", T.IntegerType(), False),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[t_col].to_numpy(np.float64)
        order = np.argsort(t, kind="mergesort")
        t = t[order]
        m = pdf[m_col].to_numpy(np.float64)[order]
        if gausses:
            s = pdf[sigma_col].to_numpy(np.float64)[order]
            hist = dmdt_gausses_kernel(t, m, s, dt_e, dm_e)
        else:
            hist = dmdt_points_kernel(t, m, dt_e, dm_e)
        dtc = count_dt_kernel(t, dt_e) if "dt" in norm else None
        hist = normalize_dmdt(hist, norm, dt_counts=dtc)
        return pd.DataFrame({entity_col: [pdf[entity_col].iloc[0]],
                             "dmdt": [hist.ravel()],
                             "n_dt": [hist.shape[0]],
                             "n_dm": [hist.shape[1]]})

    return grouped_map_batches(obs.select(*cols), entity_col, schema,
                               per_group(entity_col, fn))


def rainbow_fit(obs: DataFrame, band_wave_cm, entity_col: str = "doc_id",
                t_col: str = "t", m_col: str = "m", sigma_col: str = "sigma",
                band_col: str = "band", with_baseline: bool = True,
                fill_value: Optional[float] = float("nan"),
                max_iter: int = 150, n_starts: int = 4,
                bolometric: str = "bazin",
                temperature: str = "sigmoid",
                spectral: str = "planck",
                upper_limit_col: Optional[str] = None,
                with_errors: bool = False) -> DataFrame:
    """Joint multiband RainbowFit per entity (default Bazin x sigmoid-T x
    Planck configuration; see functions/rainbow.py for semantics and
    documented divergences).  One output row per entity: the unscaled
    parameters + per-band baselines + r_chisq; failed/degenerate fits
    follow the engine's fill_value contract.

    ``upper_limit_col`` names an optional boolean column marking
    non-detections: their ``m`` is the upper-limit flux and they enter the
    fit through the censored Tobit likelihood (reference minuit_ml.py:
    114-128) instead of as fake measurements.

    ``with_errors=True`` adds a ``{param}_err`` column per fitted
    parameter (HESSE-style inverse-Hessian 1-sigma, fits.lm_errors) — the
    reference's Migrad/HESSE error output contract."""
    from ..functions.rainbow import rainbow_fit_arrays, rainbow_param_names
    band_names = sorted(band_wave_cm)
    names = list(rainbow_param_names(bolometric, temperature, spectral))
    if with_baseline:
        names += [f"baseline_{b}" for b in band_names]
    if with_errors:
        names += [f"{n}_err" for n in names]
    names += ["r_chisq"]
    # the fill/finite gate applies to the VALUE outputs; an error column
    # is legitimately +inf for a parameter the data cannot constrain
    # (lm_errors' documented flat-direction contract) and must not nuke
    # an otherwise-converged row
    value_idx = np.array([i for i, nm in enumerate(names)
                          if not nm.endswith("_err")])
    err_idx = np.array([i for i, nm in enumerate(names)
                        if nm.endswith("_err")], dtype=int)
    schema = T.StructType(
        [obs.schema[entity_col]]
        + [T.StructField(n, T.DoubleType(), True) for n in names])
    waves = {b: float(band_wave_cm[b]) for b in band_names}

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[t_col].to_numpy(np.float64)
        order = np.argsort(t, kind="mergesort")
        mask = (pdf[upper_limit_col].to_numpy(bool)[order]
                if upper_limit_col is not None else None)
        try:
            with np.errstate(all="ignore"):
                vec = rainbow_fit_arrays(
                    t[order], pdf[m_col].to_numpy(np.float64)[order],
                    pdf[sigma_col].to_numpy(np.float64)[order],
                    pdf[band_col].to_numpy()[order], waves,
                    with_baseline=with_baseline, max_iter=max_iter,
                    n_starts=n_starts, bolometric=bolometric,
                    temperature=temperature, spectral=spectral,
                    upper_mask=mask, with_errors=with_errors)
            if not np.all(np.isfinite(vec[value_idx])) \
                    or (len(err_idx) and np.any(np.isnan(vec[err_idx]))):
                raise ValueError("non-finite fit")
        except (ValueError, KeyError, ZeroDivisionError, RuntimeError,
                FloatingPointError, np.linalg.LinAlgError):
            if fill_value is None:
                raise
            vec = np.full(len(names), float(fill_value))
        row = {entity_col: [pdf[entity_col].iloc[0]]}
        row.update({n: [v] for n, v in zip(names, vec)})
        return pd.DataFrame(row)

    cols = [entity_col, t_col, m_col, sigma_col, band_col]
    if upper_limit_col is not None:
        cols.append(upper_limit_col)
    return grouped_map_batches(obs.select(*cols), entity_col, schema,
                               per_group(entity_col, fn))
