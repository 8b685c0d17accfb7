"""One curve's arrays in evaluation order, and the feature vector of a window.

Shared by every extraction UDF (``operators/extract.py``).  Executors import
this module when they unpickle such a UDF, so it imports numpy and the kernel
registry only: a UDF that calls these functions does not pull the
DataFrame-level operator module (or, unless banded, pandas) into the Python
worker.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np

from .kernels import Kernel, evaluate_many

__all__ = ["band_codes", "sort_curve", "eval_window"]


def band_codes(vals, bands: Sequence) -> np.ndarray:
    """Index of each row's band in ``bands`` (-1 for an unlisted band).

    A TYPE mismatch (integer-coded column vs string bands or vice versa)
    makes every code -1 and would silently emit all-fill output for the
    whole table, so it raises; an entity merely observed in other bands is
    legitimate and keeps the fill behavior."""
    import pandas as pd

    codes = pd.Categorical(vals, categories=bands).codes
    if len(codes) and (codes == -1).all() \
            and isinstance(vals[0], (str, bytes)) \
            != isinstance(bands[0], (str, bytes)):
        raise ValueError(
            f"band column type {type(vals[0]).__name__!r} cannot match "
            f"bands={bands!r} — every code resolves to -1 (all-fill "
            "output)")
    return codes


def sort_curve(t, m, s=None, b=None, bands: Optional[Sequence] = None):
    """``(t, m, s, codes)`` as float64 arrays sorted for evaluation, with
    the band codes of ``b`` (None without ``bands``).

    lexsort (t, then m): identical to the plain t-sort whenever t is unique
    (the validated-ingest guarantee), and a DETERMINISTIC tie order
    otherwise — a stable sort alone would preserve arbitrary shuffle
    arrival order among equal-t rows, making consecutive-difference kernels
    differ between runs/retries."""
    t = np.asarray(t, dtype=np.float64)
    m = np.asarray(m, dtype=np.float64)
    order = np.lexsort((m, t))
    s = None if s is None else np.asarray(s, dtype=np.float64)[order]
    codes = None if bands is None else band_codes(b[order], bands)
    return t[order], m[order], s, codes


def eval_window(kernels: Sequence[Kernel], fill_value, bands, t, m, s=None,
                codes=None) -> np.ndarray:
    """The feature vector of one window; with ``bands``, the per-band
    vectors concatenated in ``bands`` order."""
    if bands is None:
        return evaluate_many(kernels, t, m, s, fill_value)
    outs = []
    for bi in range(len(bands)):
        mask = codes == bi
        outs.append(evaluate_many(
            kernels, t[mask], m[mask], None if s is None else s[mask],
            fill_value))
    return np.concatenate(outs)
