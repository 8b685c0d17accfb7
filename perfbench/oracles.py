"""Correctness oracles that do not use Spark.

DuckDB reads the benchmark's own input parquet files and the program's
output parquet files; numpy references come from the program's per-window
kernel evaluator (``functions.kernels.evaluate_many``), which the Spark
operators must reproduce.  Every check returns ``(name, ok, detail)`` and
every failed check counts in ``failed_frac``.

Float tolerance is fixed here, before any measurement: ``RTOL``/``ATOL``
allow prefix-sum reassociation in the battery (a few ulps at these
magnitudes), nothing more.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RTOL = 1e-6
ATOL = 1e-9


def read_dir(path: str) -> pa.Table:
    """All parquet parts under ``path`` (a Spark output directory, possibly
    with ``bucket=N`` subdirectories) as one table."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    tables = [pq.read_table(f) for f in files]
    schema = tables[0].schema
    return pa.concat_tables([t.select(schema.names).cast(schema)
                             for t in tables])


def _floats(col) -> np.ndarray:
    """NULL -> NaN: the pandas route writes fill values as NULL, the
    Arrow route as NaN; both mean 'fill'."""
    return np.array([np.nan if v is None else v for v in col.to_pylist()],
                    dtype=np.float64)


def _result(name, bad, total, what):
    return (name, bad == 0,
            f"{bad} of {total} {what} differ" if bad else f"{total} ok")


def row_count(name: str, got: int, want: int):
    return (name, got == want, f"{got} rows, want {want}")


def window_counts(con, out: pa.Table, obs_path: str,
                  horizon: float | None):
    """Leakage check: ``observation_count`` of every probe equals the number
    of observations with ``ts - horizon <= t <= ts`` (``t <= ts`` when
    expanding), counted by DuckDB.  An empty window yields the fill value
    (NaN or NULL), which counts as 0."""
    con.register("out_t", out.select(["doc_id", "ts", "observation_count"]))
    lo = "" if horizon is None else f"AND o.t >= p.ts - {horizon!r}"
    bad, total = con.execute(f"""
        WITH want AS (
          SELECT p.doc_id, p.ts, count(o.t) AS n
          FROM (SELECT DISTINCT doc_id, ts FROM out_t) p
          LEFT JOIN read_parquet('{obs_path}') o
            ON o.doc_id = p.doc_id AND o.t <= p.ts {lo}
          GROUP BY p.doc_id, p.ts)
        SELECT count(*) FILTER (WHERE CASE
                 WHEN g.observation_count IS NULL
                      OR isnan(g.observation_count) THEN 0
                 ELSE g.observation_count END <> w.n),
               count(*)
        FROM out_t g JOIN want w USING (doc_id, ts)""").fetchone()
    con.unregister("out_t")
    missing = out.num_rows - total
    return _result("leakage.observation_count", bad + missing,
                   out.num_rows, "probe windows")


def payload_bytes(out: pa.Table, probes_path: str):
    """Per-row byte equality of the ``tokens`` payload against the input
    probe row with the same (doc_id, ts)."""
    src = pq.read_table(probes_path, columns=["doc_id", "ts", "tokens"])
    want = {(d, t): np.asarray(v, dtype=np.int32).tobytes()
            for d, t, v in zip(src.column("doc_id").to_pylist(),
                               src.column("ts").to_pylist(),
                               src.column("tokens").to_pylist())}
    bad = 0
    for d, t, v in zip(out.column("doc_id").to_pylist(),
                       out.column("ts").to_pylist(),
                       out.column("tokens").to_pylist()):
        if v is None or want.get((d, t)) != \
                np.asarray(v, dtype=np.int32).tobytes():
            bad += 1
    return _result("payload.tokens_bytes", bad, out.num_rows, "rows")


def _curves(obs_path: str, ids) -> dict:
    obs = pq.read_table(obs_path, filters=[("doc_id", "in", list(ids))])
    cols = {c: obs.column(c).to_numpy(zero_copy_only=False)
            for c in ("doc_id", "t", "m", "sigma")}
    out = {}
    for d in ids:
        sel = cols["doc_id"] == d
        t, m, s = cols["t"][sel], cols["m"][sel], cols["sigma"][sel]
        order = np.lexsort((m, t))
        out[d] = (t[order], m[order], s[order])
    return out


def sample_ids(ids, n: int, seed: int):
    ids = sorted(set(ids))
    rng = np.random.default_rng([seed, 7])
    return list(rng.choice(ids, min(n, len(ids)), replace=False))


def battery_windows(out: pa.Table, obs_path: str, names, kernels,
                    horizon: float | None, ids):
    """Full-battery values of every probe of the sampled entities against
    ``evaluate_many`` on the explicit window (allclose)."""
    from light_curve_python_spark.functions.kernels import evaluate_many
    curves = _curves(obs_path, ids)
    doc = np.asarray(out.column("doc_id").to_pylist(), dtype=object)
    sel = np.flatnonzero(np.isin(doc, list(ids)))
    sub = out.take(pa.array(sel))
    got = np.column_stack([_floats(sub.column(n)) for n in names])
    ts = sub.column("ts").to_numpy()
    bad = 0
    for i, d in enumerate(sub.column("doc_id").to_pylist()):
        t, m, s = curves[d]
        hi = np.searchsorted(t, ts[i], side="right")
        lo = 0 if horizon is None else np.searchsorted(
            t, ts[i] - horizon, side="left")
        want = evaluate_many(kernels, t[lo:hi], m[lo:hi], s[lo:hi])
        if not np.allclose(got[i], want, rtol=RTOL, atol=ATOL,
                           equal_nan=True):
            bad += 1
    return _result("battery.allclose", bad, len(sel), "sampled windows")


def periodograms(out: pa.Table, obs_path: str, ids):
    """``periodogram_freq_power`` rows of the sampled entities against the
    numpy periodogram on the same sorted curve."""
    from light_curve_python_spark.functions.kernels import periodogram_power
    curves = _curves(obs_path, ids)
    rows = {d: i for i, d in enumerate(out.column("doc_id").to_pylist())}
    bad = 0
    for d in ids:
        t, m, _ = curves[d]
        order = np.argsort(t, kind="mergesort")
        f, p = periodogram_power(t[order], m[order], fast=True)
        i = rows.get(d)
        if i is None or not (
                np.allclose(out.column("freqs")[i].as_py(), f,
                            rtol=RTOL, atol=ATOL)
                and np.allclose(out.column("power")[i].as_py(), p,
                                rtol=RTOL, atol=ATOL)):
            bad += 1
    return _result("periodogram.allclose", bad, len(ids), "sampled entities")


def _compare(con, name: str, got_sql: str, want_sql: str, keys: str,
             cols) -> tuple:
    """Row-set comparison on ``keys``; float ``cols`` compared with the
    module tolerance, NULLs equal to NULLs."""
    cond = " OR ".join(
        f"(g.{c} IS NULL) <> (w.{c} IS NULL) OR "
        f"abs(g.{c} - w.{c}) > {ATOL} + {RTOL} * abs(w.{c})" for c in cols)
    bad, n_want = con.execute(f"""
        WITH g AS (SELECT *, 1 AS _in_g FROM ({got_sql})),
             w AS (SELECT *, 1 AS _in_w FROM ({want_sql}))
        SELECT count(*) FILTER (WHERE _in_g IS NULL OR _in_w IS NULL
                                OR {cond}),
               count(_in_w)
        FROM g FULL JOIN w USING ({keys})""").fetchone()
    return _result(name, bad, n_want, "rows")


def asof_values(con, out_path: str, obs_path: str):
    """``asof_join`` match time and value against DuckDB's ASOF JOIN."""
    return _compare(
        con, "asof.values",
        f"SELECT doc_id, ts, t_asof AS at, m_asof AS am "
        f"FROM read_parquet('{out_path}/**/*.parquet')",
        f"""SELECT p.doc_id, p.ts, o.t AS at, o.m AS am
            FROM (SELECT DISTINCT doc_id, ts
                  FROM read_parquet('{out_path}/**/*.parquet')) p
            ASOF LEFT JOIN read_parquet('{obs_path}') o
              ON p.doc_id = o.doc_id AND p.ts >= o.t""",
        "doc_id, ts", ["at", "am"])


_SHINGLES = """
  sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
                AS sh
         FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
               FROM (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM read_parquet('{docs}'))))"""


def jaccard_pairs(con, out_path: str, docs_path: str, threshold: float,
                  cap: int):
    """``ngram_jaccard_pairs`` contract: pairs sharing at least one shingle
    of document frequency <= cap, with their exact full-set Jaccard."""
    return _compare(
        con, "dedup.jaccard_pairs",
        f"SELECT id_a, id_b, jaccard AS j "
        f"FROM read_parquet('{out_path}/*.parquet')",
        f"""WITH {_SHINGLES.format(docs=docs_path)},
            df AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {cap}),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM sh a JOIN df USING (sh)
                     JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id),
            inter AS (SELECT c.id_a, c.id_b, count(*) AS n
                      FROM cand c JOIN sh a ON a.doc_id = c.id_a
                      JOIN sh b ON b.doc_id = c.id_b AND a.sh = b.sh
                      GROUP BY c.id_a, c.id_b),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
            SELECT id_a, id_b, j FROM (
              SELECT i.id_a, i.id_b,
                     CAST(i.n AS DOUBLE) / (x.n + y.n - i.n) AS j
              FROM inter i JOIN sz x ON x.doc_id = i.id_a
              JOIN sz y ON y.doc_id = i.id_b) WHERE j >= {threshold!r}""",
        "id_a, id_b", ["j"])


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con
