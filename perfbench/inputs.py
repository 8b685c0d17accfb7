"""Seeded input generator owned by the benchmark.

Everything here is numpy + pyarrow: it imports nothing from the program
(in particular not ``light_curve_python_spark.datagen``), so a change to the
program cannot move the workload inputs.  The same seed gives byte-identical
parquet files.

Sizes do not depend on the seed: per-entity observation counts, probe
counts, token-payload lengths and document lengths are fixed multisets that
the seed only shuffles, so runs with different seeds do the same amount of
work on different values.

Inputs are generated in ``shards`` independent pieces of equal shape.  The
whole set is the union of all shards; shard 0 alone is the 1/N input of the
weak-scaling leg (same per-entity sizes, same hot share, its own planted
near-duplicates).  ``warm`` is a small head of shard 0 that set-up warm-ups
run on.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BANDS = ("g", "r")
SOURCES = ("web", "books", "code", "wiki")
TOKEN_VOCAB = 50257
WARM_ENTITIES = 4         # entities and ...
WARM_DOCS = 64            # ... documents in the warm-up part


@dataclass(frozen=True)
class CurveSpec:
    entities_per_shard: int
    obs_lo: int              # per-entity observation count, uniform [lo, hi)
    obs_hi: int
    hot_every: int = 500     # about 1 entity in hot_every is hot ...
    hot_factor: int = 20     # ... with hot_factor x the median count
    probes_per_entity: int = 48


@dataclass(frozen=True)
class DocSpec:
    docs_per_shard: int
    words_lo: int = 24
    words_hi: int = 64
    vocab: int = 3000
    template_share: float = 0.45   # docs opening with the hot template
    template_words: int = 10
    near_dup_share: float = 0.10   # docs that are edited copies of another


def _hot_count(n: int, every: int) -> int:
    return max(1, int(round(n / every)))


def curves(rng: np.random.Generator, spec: CurveSpec, shard: int) -> dict:
    """Observations and probes of one shard as pyarrow tables."""
    n = spec.entities_per_shard
    counts = np.linspace(spec.obs_lo, spec.obs_hi, n).round().astype(int)
    n_hot = _hot_count(n, spec.hot_every)
    counts[:n_hot] = int(np.median(counts)) * spec.hot_factor
    counts = rng.permutation(counts)
    n_tok = rng.permutation(np.linspace(
        4, 64, n * spec.probes_per_entity).round().astype(np.int32))
    ids = np.array([f"e{shard:02d}{i:06d}" for i in range(n)], dtype=object)

    o_id, o_t, o_m, o_s, o_b = [], [], [], [], []
    p_id, p_ts, p_tok = [], [], []
    for i in range(n):
        c = int(counts[i])
        # distinct times on a 1e-3 grid, so window bounds and tie orders
        # are unambiguous
        t = np.sort(rng.choice(1_000_000, c, replace=False)) / 1000.0
        period = rng.uniform(0.5, 40.0)
        m = (18.0 + rng.uniform(0.1, 1.5) * np.sin(2 * np.pi * t / period)
             + rng.normal(0.0, 0.1, c))
        o_id.append(np.full(c, ids[i], dtype=object))
        o_t.append(t)
        o_m.append(np.round(m, 6))
        o_s.append(np.round(rng.uniform(0.02, 0.2, c), 6))
        o_b.append(np.asarray(BANDS, dtype=object)[rng.integers(0, 2, c)])
        # probe times: mostly inside the observed span, a few before the
        # first observation (empty windows -> fill rows)
        ts = np.sort(rng.choice(1_040_000, spec.probes_per_entity,
                                replace=False)) / 1000.0 - 20.0
        p_id.append(np.full(len(ts), ids[i], dtype=object))
        p_ts.append(ts)
        for k in n_tok[len(p_tok):len(p_tok) + len(ts)]:
            p_tok.append(rng.integers(0, TOKEN_VOCAB, int(k),
                                      dtype=np.int32))
    out = {"hot_entities": n_hot, "entities": n}
    out["observations"] = pa.table({
        "doc_id": pa.array(np.concatenate(o_id), pa.string()),
        "t": np.concatenate(o_t), "m": np.concatenate(o_m),
        "sigma": np.concatenate(o_s),
        "band": pa.array(np.concatenate(o_b), pa.string()),
    })
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(np.concatenate(p_tok), pa.int32()))
    src = np.asarray(SOURCES, dtype=object)[rng.integers(0, 4, len(n_tok))]
    out["probes"] = pa.table({
        "doc_id": pa.array(np.concatenate(p_id), pa.string()),
        "ts": np.concatenate(p_ts),
        "tokens": tokens, "n_tok": n_tok,
        "source": pa.array(src, pa.string()),
    })
    return out


def documents(rng: np.random.Generator, spec: DocSpec, shard: int) -> dict:
    """One shard of the document corpus: int64 ids, a small Zipf-skewed
    vocabulary, a hot opening template (high-df shingles) and a planted
    share of near-duplicates (an earlier doc with two words replaced)."""
    n = spec.docs_per_shard
    vocab = np.array([f"w{i}" for i in range(spec.vocab)], dtype=object)
    weights = 1.0 / np.arange(1, spec.vocab + 1) ** 0.8
    weights /= weights.sum()
    template = [f"tpl{j}" for j in range(spec.template_words)]
    n_dup = int(round(n * spec.near_dup_share))
    n_orig = n - n_dup
    lengths = rng.permutation(np.linspace(
        spec.words_lo, spec.words_hi, n_orig).round().astype(int))
    with_template = set(rng.choice(
        n_orig, int(round(n_orig * spec.template_share)), replace=False))
    texts = []
    for i in range(n_orig):
        w = list(vocab[rng.choice(spec.vocab, int(lengths[i]), p=weights)])
        if i in with_template:
            w = template + w
        texts.append(w)
    for _ in range(n_dup):
        w = list(texts[int(rng.integers(0, n - n_dup))])
        for pos in rng.choice(len(w), 2, replace=False):
            w[pos] = f"x{int(rng.integers(0, 10**6))}"
        texts.append(w)
    order = rng.permutation(n)      # near-dups are not adjacent by id
    # int64 ids that stay below 2^31, spaced so they are not dense ranks
    ids = (np.arange(n, dtype=np.int64) * 7 + 1_000_003
           + shard * n * 7)
    text = np.array([" ".join(texts[j]) for j in order], dtype=object)
    return {"documents": pa.table({"doc_id": pa.array(ids, pa.int64()),
                                   "text": pa.array(text, pa.string())}),
            "near_dups": n_dup, "docs": n}


def write_shards(out_dir: str, seed: int, shards: int,
                 curve_spec: CurveSpec | None = None,
                 doc_spec: DocSpec | None = None) -> dict:
    """Write ``<out_dir>/{all,sub,warm}/<table>.parquet`` (``sub`` = shard
    0, ``warm`` = its head) and return a summary of input properties."""
    parts: dict = {}
    summary: dict = {"seed": seed, "shards": shards}
    for s in range(shards):
        rng = np.random.default_rng([seed, s])
        got = {}
        if curve_spec is not None:
            got.update(curves(rng, curve_spec, s))
        if doc_spec is not None:
            got.update(documents(rng, doc_spec, s))
        for k, v in got.items():
            parts.setdefault(k, []).append(v)
    for name in ("observations", "probes", "documents"):
        if name not in parts:
            continue
        tables = parts[name]
        for sub, tabs in (("all", tables), ("sub", tables[:1]),
                          ("warm", [_head(name, tables[0])])):
            d = os.path.join(out_dir, sub)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.concat_tables(tabs),
                           os.path.join(d, f"{name}.parquet"))
        summary[f"{name}_rows"] = sum(t.num_rows for t in tables)
    if curve_spec is not None:
        summary["entities"] = sum(parts["entities"])
        summary["hot_entity_share"] = (sum(parts["hot_entities"])
                                       / summary["entities"])
    if doc_spec is not None:
        summary["near_dup_share"] = (sum(parts["near_dups"])
                                     / sum(parts["docs"]))
        summary["max_shingle_df"] = max_shingle_df(
            pa.concat_tables(parts["documents"]))
    return summary


def _head(name: str, table: pa.Table) -> pa.Table:
    """The warm-up slice of a shard-0 table: its first ``WARM_ENTITIES``
    entities, or its first ``WARM_DOCS`` documents."""
    if name == "documents":
        return table.slice(0, WARM_DOCS)
    ids = table.column("doc_id").unique().slice(0, WARM_ENTITIES)
    return table.filter(pc.is_in(table.column("doc_id"), value_set=ids))


def max_shingle_df(docs: pa.Table, k: int = 3) -> int:
    """Largest document frequency of a word k-gram shingle."""
    df: dict = {}
    for text in docs.column("text").to_pylist():
        w = text.split(" ")
        for sh in {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}:
            df[sh] = df.get(sh, 0) + 1
    return max(df.values())
