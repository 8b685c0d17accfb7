"""Streaming point-in-time (as-of) join via applyInPandasWithState.

The streaming form of ``operators.asof.asof_join`` (same tagged-union
shape): observations and probes arrive as ONE unioned stream per key;
per-key state holds the observation HISTORY (time-sorted arrays of t and
value columns, optionally evicted below a lateness horizon); each probe row
is emitted once, joined to the newest observation with ``t <= ts`` among
all observations seen up to and including its own micro-batch.

Semantics:
- within a micro-batch, visibility is by EVENT time (an observation in the
  same batch matches a probe with a later ts regardless of row order) —
  identical to the batch operator, asserted in tests;
- across micro-batches, state carries the history (and survives restarts
  via the checkpoint), so late probes still match earlier observations;
- observations arriving AFTER a probe was already emitted do not retract
  it — processing-time lateness, the standard online-path contract (the
  batch operator is the exact backfill twin);
- ``lookback`` bounds state per key: observations older than
  ``max_t_seen - lookback`` are evicted EXCEPT the newest such one (the
  ffill anchor), so any probe inside the horizon still matches.  None
  keeps full history (fine for bounded keys; set it in production).

Scale: state per key is O(history within lookback); the single shuffle is
the groupBy(key) exchange every stateful operator pays.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import drop_zip_importers

__all__ = ["streaming_asof_join"]


def streaming_asof_join(probes: DataFrame, obs: DataFrame, on: str,
                        left_ts: str = "ts", right_ts: str = "t",
                        value_cols: List[str] = ("v",),
                        lookback: Optional[float] = None,
                        suffix: str = "_asof") -> DataFrame:
    """Join each streaming probe row to the latest observation at or before
    its timestamp (per key).  ``probes`` and ``obs`` are streaming
    DataFrames sharing the key column; value columns must be numeric
    (stored as doubles in state).  Output: one row per probe —
    ``(key, ts, {value}{suffix}..., {right_ts}{suffix})``."""
    value_cols = list(value_cols)
    reserved = {"_t", "_is_probe"}
    taken = reserved & (set(value_cols) | {on, left_ts, right_ts})
    if taken:
        # same upfront rejection as the batch twin — a collision would
        # otherwise surface as an ambiguous-reference error mid-stream
        raise ValueError(f"names reserved by streaming_asof_join: {taken}")
    key_field = probes.schema[on]

    tagged_obs = obs.select(
        F.col(on),
        F.col(right_ts).cast("double").alias("_t"),
        F.lit(0).alias("_is_probe"),
        *[F.col(c).cast("double").alias(c) for c in value_cols])
    tagged_probes = probes.select(
        F.col(on),
        F.col(left_ts).cast("double").alias("_t"),
        F.lit(1).alias("_is_probe"),
        *[F.lit(None).cast("double").alias(c) for c in value_cols])
    unioned = tagged_obs.unionByName(tagged_probes)

    out_schema = T.StructType(
        [key_field, T.StructField(left_ts, T.DoubleType())]
        + [T.StructField(f"{c}{suffix}", T.DoubleType())
           for c in value_cols]
        + [T.StructField(f"{right_ts}{suffix}", T.DoubleType())])
    state_schema = T.StructType(
        [T.StructField("hist_t", T.ArrayType(T.DoubleType()))]
        + [T.StructField(f"hist_{c}", T.ArrayType(T.DoubleType()))
           for c in value_cols])

    n_vals = len(value_cols)

    def fn(key: Tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        if state.exists:
            stored = state.get
            hist_t = np.asarray(stored[0], dtype=np.float64)
            hist_v = [np.asarray(stored[1 + i], dtype=np.float64)
                      for i in range(n_vals)]
        else:
            hist_t = np.empty(0)
            hist_v = [np.empty(0) for _ in range(n_vals)]
        rows = pd.concat(list(pdfs), ignore_index=True)
        isp = rows["_is_probe"].to_numpy()
        tv = rows["_t"].to_numpy(dtype=np.float64)
        # a NaN observation time would sort to the history's END and
        # poison every later eviction (cutoff = NaN evicts the whole
        # horizon); a NaN probe ts would searchsorted to len and match
        # the NEWEST observation instead of the batch twin's null match —
        # drop NaN obs rows, emit NaN probe rows unmatched
        finite = np.isfinite(tv)
        obs_mask = (isp == 0) & finite
        if obs_mask.any():
            new_t = tv[obs_mask]
            order = np.argsort(new_t, kind="mergesort")
            # merge-insert this batch's observations into the history;
            # equal-time ties keep the newest insertion LAST so
            # searchsorted(side='right')-1 picks it
            pos = np.searchsorted(hist_t, new_t[order], side="right")
            hist_t = np.insert(hist_t, pos, new_t[order])
            for i, c in enumerate(value_cols):
                nv = rows.loc[obs_mask, c].to_numpy(dtype=np.float64)[order]
                hist_v[i] = np.insert(hist_v[i], pos, nv)
        probe_mask = isp == 1
        if probe_mask.any():
            pts = tv[probe_mask]
            idx = np.searchsorted(hist_t, np.where(np.isfinite(pts),
                                                   pts, -np.inf),
                                  side="right") - 1
            hit = idx >= 0
            data = {}
            data[on] = np.repeat(key[0], len(pts))
            data[left_ts] = pts
            for i, c in enumerate(value_cols):
                col = np.full(len(pts), np.nan)
                col[hit] = hist_v[i][idx[hit]]
                data[f"{c}{suffix}"] = col
            mt = np.full(len(pts), np.nan)
            mt[hit] = hist_t[idx[hit]]
            data[f"{right_ts}{suffix}"] = mt
            yield pd.DataFrame(data)
        if lookback is not None and len(hist_t):
            cutoff = hist_t[-1] - lookback
            # evict below the horizon but keep the newest pre-horizon
            # observation as the ffill anchor
            first_keep = np.searchsorted(hist_t, cutoff, side="left")
            first_keep = max(first_keep - 1, 0)
            hist_t = hist_t[first_keep:]
            hist_v = [v[first_keep:] for v in hist_v]
        state.update((hist_t.tolist(),
                      *[v.tolist() for v in hist_v]))

    return (unioned.groupBy(on)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))
