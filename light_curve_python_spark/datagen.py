"""Deterministic distributed synthetic data (no external data).

Generates the driver-mandated tokenized-sequence table
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``
(BASELINE.json input_hint) plus a long-format observations table and a probe
(entity×cutoff) table, mirroring the reference's random-curve recipe
(/root/reference/light-curve/tests/test_w_bench.py:139-154: sorted
uniform(0,1000) times, m ~ uniform(15,21), sigma ~ uniform(0.01,0.2)).

Generation is DISTRIBUTED and PARTITION-INDEPENDENT: each entity's rows are
drawn from ``np.random.default_rng((seed, entity_index))``, so the dataset is
byte-identical regardless of parallelism or partitioning — the property that
makes local[8] vs local[32] scaling runs comparable and tests reproducible.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import drop_zip_importers

__all__ = [
    "SEQUENCES_SCHEMA", "OBSERVATIONS_SCHEMA", "PROBES_SCHEMA",
    "generate_sequences", "generate_observations", "generate_probes",
]

SEQUENCES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])

OBSERVATIONS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("t", T.DoubleType(), False),
    T.StructField("m", T.DoubleType(), False),
    T.StructField("sigma", T.DoubleType(), False),
    T.StructField("band", T.StringType(), False),
])

PROBES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("ts", T.DoubleType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])

_SOURCES = ["web", "books", "code", "wiki"]
_VOCAB = 50257


def _doc_id(i: int) -> str:
    return f"doc{i:08d}"


def _entity_rng(seed: int, i: int) -> np.random.Generator:
    return np.random.default_rng((seed, i))


def _entity_tokens(seed: int, i: int):
    """THE token draw for entity i — one definition shared by
    generate_sequences and generate_probes so the byte-identical-tokens
    contract between the two tables cannot drift (same rng construction,
    same draw order)."""
    rng = _entity_rng(seed, i)
    n_tok = int(np.clip(rng.lognormal(4.0, 0.8), 4, 2048))
    tokens = rng.integers(0, _VOCAB, n_tok, dtype=np.int32)
    return rng, n_tok, tokens


def generate_sequences(spark: SparkSession, n_entities: int,
                       seed: int = 42, partitions: Optional[int] = None) -> DataFrame:
    """The (doc_id, tokens, n_tok, source) entity table."""
    rng_df = spark.range(0, n_entities,
                         numPartitions=partitions or min(n_entities, 64))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng, n_tok, tokens = _entity_tokens(seed, int(i))
                rows.append((_doc_id(int(i)), tokens, n_tok,
                             _SOURCES[int(i) % len(_SOURCES)]))
            yield pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok",
                                              "source"])

    return rng_df.mapInPandas(gen, SEQUENCES_SCHEMA)


def generate_observations(spark: SparkSession, n_entities: int,
                          seed: int = 42, n_obs_choices=(10, 100, 1000),
                          n_hot: int = 0, hot_factor: int = 100,
                          bands=("g", "r"),
                          partitions: Optional[int] = None) -> DataFrame:
    """Long-format per-entity time series.

    The first ``n_hot`` entities get ``hot_factor``× the observations — the
    skewed hot entities the north rule requires salting for.
    """
    rng_df = spark.range(0, n_entities,
                         numPartitions=partitions or min(n_entities, 64))
    choices = np.asarray(n_obs_choices)
    band_arr = np.asarray(bands)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            frames = []
            for i in pdf["id"]:
                i = int(i)
                rng = _entity_rng(seed, i)
                n = int(choices[rng.integers(0, len(choices))])
                if i < n_hot:
                    n *= hot_factor
                # sorted unique times per the reference recipe
                t = np.sort(rng.uniform(0, 1000, n))
                while len(np.unique(t)) != n:  # vanishing probability
                    t = np.sort(rng.uniform(0, 1000, n))
                frames.append(pd.DataFrame({
                    "doc_id": _doc_id(i),
                    "t": t,
                    "m": rng.uniform(15, 21, n),
                    "sigma": rng.uniform(0.01, 0.2, n),
                    "band": np.resize(band_arr, n),
                }))
            yield pd.concat(frames, ignore_index=True) if frames else \
                pd.DataFrame(columns=[f.name for f in OBSERVATIONS_SCHEMA])

    return rng_df.mapInPandas(gen, OBSERVATIONS_SCHEMA)


def generate_probes(spark: SparkSession, n_entities: int,
                    probes_per_entity: int = 8, seed: int = 42,
                    partitions: Optional[int] = None) -> DataFrame:
    """entity×cutoff probe table carrying the token payload.

    Cutoffs span [0, 1100] so some fall before the first observation (empty
    window -> fill_value path) and some after the last (full-history window).
    Token arrays are identical to generate_sequences' for the same seed, so
    payload byte-equality can be asserted end-to-end.
    """
    rng_df = spark.range(0, n_entities,
                         numPartitions=partitions or min(n_entities, 64))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            frames = []
            for i in pdf["id"]:
                i = int(i)
                _rng, n_tok, tokens = _entity_tokens(seed, i)
                prng = np.random.default_rng((seed, i, 7))
                ts = np.sort(prng.uniform(0, 1100, probes_per_entity))
                frames.append(pd.DataFrame({
                    "doc_id": _doc_id(i),
                    "ts": ts,
                    "tokens": [tokens] * probes_per_entity,
                    "n_tok": n_tok,
                    "source": _SOURCES[i % len(_SOURCES)],
                }))
            yield pd.concat(frames, ignore_index=True) if frames else \
                pd.DataFrame(columns=[f.name for f in PROBES_SCHEMA])

    return rng_df.mapInPandas(gen, PROBES_SCHEMA)
