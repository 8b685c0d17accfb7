"""Many-groups-per-Python-call evaluation for per-entity operators.

``groupBy().applyInPandas`` invokes the Python function once PER GROUP —
fine for big groups, but on corpora of many small entities the per-call
overhead (pandas frame construction, serialization bookkeeping) dominates
the kernel work.  ``grouped_map_batches`` keeps the identical shuffle
(repartition by entity + sortWithinPartitions) but evaluates every entity
inside an Arrow batch in one call, deferring the batch's last entity —
which may continue in the next batch — via a carry buffer.  The buffer is
a LIST of frames concatenated only when the entity ends, so a giant
entity spanning many Arrow batches costs O(size), not O(size^2).
Measured 4.5x on the 10k-entity quantile headline.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import drop_zip_importers

__all__ = ["grouped_map_batches", "per_group"]


def per_group(entity_col: str,
              fn_group: Callable[[pd.DataFrame], pd.DataFrame]
              ) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Adapt a one-group pandas function to the ``process_batch``
    contract (a frame holding one or more COMPLETE groups)."""
    def process(body: pd.DataFrame) -> pd.DataFrame:
        outs = [fn_group(g)
                for _, g in body.groupby(entity_col, sort=False,
                                         dropna=False)]
        outs = [o for o in outs if len(o)]
        return pd.concat(outs, ignore_index=True) if outs \
            else pd.DataFrame()
    return process


def _same_key(a, b) -> bool:
    """Null-safe key equality: a null entity key is one group (matching
    groupBy().applyInPandas semantics), and NaN != NaN would otherwise
    split it across batch boundaries."""
    if pd.isna(a) or pd.isna(b):
        return bool(pd.isna(a) and pd.isna(b))
    return bool(a == b)


def grouped_map_batches(df: DataFrame, entity_col: str, schema,
                        process_batch: Callable[[pd.DataFrame],
                                                pd.DataFrame],
                        sort_cols: Sequence[str] = ()) -> DataFrame:
    """Apply ``process_batch`` to frames that contain only COMPLETE
    entities (one or more per call).  Rows arrive sorted by ``sort_cols``
    within each entity (partition sort; the carry preserves it).
    Equivalent to ``df.groupBy(entity_col).applyInPandas`` in results and
    shuffle shape; wrap a one-group function with :func:`per_group`."""
    part = df.repartition(F.col(entity_col)) \
        .sortWithinPartitions(entity_col, *sort_cols)

    def fn(batches):
        drop_zip_importers()
        buf = []            # frames of the in-progress tail entity
        buf_key = None
        for pdf in batches:
            if not len(pdf):
                continue
            first = pdf[entity_col].iloc[0]
            if buf and _same_key(first, buf_key):
                keys = pdf[entity_col]
                head_mask = (keys.isna() if pd.isna(buf_key)
                             else (keys == buf_key)).to_numpy()
                n_head = int(head_mask.sum())
                if n_head == len(pdf):
                    buf.append(pdf)     # entity still not finished
                    continue
                buf.append(pdf.iloc[:n_head])
                out = process_batch(pd.concat(buf, ignore_index=True))
                if len(out):
                    yield out
                buf, buf_key = [], None
                pdf = pdf.iloc[n_head:]
            elif buf:
                out = process_batch(pd.concat(buf, ignore_index=True))
                if len(out):
                    yield out
                buf, buf_key = [], None
            # defer the batch's last entity (a contiguous suffix)
            last = pdf[entity_col].iloc[-1]
            keys = pdf[entity_col]
            tail_mask = (keys.isna() if pd.isna(last)
                         else (keys == last)).to_numpy()
            cut = len(pdf) - int(tail_mask.sum())
            body = pdf.iloc[:cut]
            buf = [pdf.iloc[cut:]]
            buf_key = last
            if len(body):
                out = process_batch(body)
                if len(out):
                    yield out
        if buf:
            out = process_batch(pd.concat(buf, ignore_index=True))
            if len(out):
                yield out

    return part.mapInPandas(fn, schema)
