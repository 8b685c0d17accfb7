"""Sequence-embedding pipeline — the reference's ``embed`` surface
(/root/reference/light-curve/light_curve/embed/model.py:31-150) re-expressed
for Spark: fixed-length reduction (operators/reductions.py, the reference's
``Reduction`` strategies) feeding a BATCHED encoder over ``mapInPandas``,
L2-normalized ``embedding array<float>`` out.

The encoder is pluggable with the reference's session contract — any
callable ``(sequences int32[batch, seq], mask bool[batch, seq]) ->
float32[batch, dim]`` (an ``onnxruntime.InferenceSession`` wrapped in such
a callable drops straight in).  onnxruntime and the HF model weights are
NOT available in this container, so the default encoder is an honestly
named deterministic stand-in: masked moment pooling followed by a seeded
Gaussian random projection — a real (if simple) embedding, not a mock; it
exercises the full Spark-side contract (schema, Arrow batching, masking,
normalization, determinism under any partitioning).

Scale shape: the reduction is pure JVM array work; encoding is one
Arrow-batched ``mapInPandas`` with NO shuffle (row-wise map); downstream
ANN (operators/similarity.py) consumes the embedding column directly.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..session import drop_zip_importers

from .reductions import reduce_sequence

__all__ = ["random_projection_encoder", "embed_sequences"]


_N_POOLED = 5  # mean, std, min, max, coverage


def random_projection_encoder(dim: int = 64, seed: int = 42) -> Callable:
    """Deterministic stand-in encoder (no onnxruntime in this container):
    per sequence, masked moment pooling (mean, std, min, max over the real
    positions, plus coverage) -> seeded Gaussian random projection to
    ``dim`` -> the caller L2-normalizes.  Deterministic in (seed, dim)
    only — independent of partitioning or batch boundaries."""
    # the projection is a pure function of (seed, dim): hoisted so it is
    # built once per executor closure, not once per Arrow batch
    proj = (np.random.default_rng(seed).normal(size=(_N_POOLED, dim))
            / np.sqrt(dim))

    def encode(seqs: np.ndarray, mask: np.ndarray) -> np.ndarray:
        x = seqs.astype(np.float64)
        m = mask.astype(np.float64)
        cnt = np.maximum(m.sum(axis=1), 1.0)
        mean = (x * m).sum(axis=1) / cnt
        var = ((x - mean[:, None]) ** 2 * m).sum(axis=1) / cnt
        big = np.where(mask, x, -np.inf).max(axis=1)
        small = np.where(mask, x, np.inf).min(axis=1)
        feats = np.stack([mean, np.sqrt(var), small, big,
                          m.mean(axis=1)], axis=1)
        feats = np.where(np.isfinite(feats), feats, 0.0)
        return (feats @ proj).astype(np.float32)
    return encode


def embed_sequences(df: DataFrame, tokens_col: str = "tokens",
                    id_col: str = "doc_id", seq_size: int = 128,
                    strategy: str = "beginning",
                    encoder: Optional[Callable] = None,
                    dim: int = 64, batch_size: int = 256,
                    out_col: str = "embedding") -> DataFrame:
    """One L2-normalized embedding per row: reduction (reference
    ``Reduction`` strategies over the token array) -> batched encoder.
    All non-token columns pass through untouched."""
    clash = {"_seq", "_mask", out_col} & set(df.columns)
    if clash:
        # the temp/output names would silently overwrite user columns
        # that are then emitted under the ORIGINAL schema dtype
        raise ValueError(f"column names reserved by embed_sequences: "
                         f"{sorted(clash)}")
    enc = encoder if encoder is not None else random_projection_encoder(dim)
    reduced = reduce_sequence(df, arr_col=tokens_col, seq_size=seq_size,
                              strategy=strategy, id_col=id_col,
                              out_col="_seq", mask_col="_mask")
    pass_names = list(df.columns)
    schema = T.StructType(
        [df.schema[c] for c in pass_names]
        + [T.StructField(out_col, T.ArrayType(T.FloatType()), False)])

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo:lo + batch_size]
                seqs = np.stack(chunk["_seq"].to_numpy())
                mask = np.stack(chunk["_mask"].to_numpy())
                emb = np.asarray(enc(seqs, mask), dtype=np.float32)
                norms = np.linalg.norm(emb, axis=1, keepdims=True)
                emb = emb / np.where(norms == 0, 1.0, norms)
                out = chunk[pass_names].copy()
                out[out_col] = list(emb)
                yield out

    return reduced.mapInPandas(fn, schema)
