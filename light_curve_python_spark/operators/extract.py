"""Feature extraction operators — the engine's flagship.

Recasts the reference's per-curve evaluators (``Feature.__call__`` /
``Feature.many``, /root/reference/light-curve/src/features.rs:2289-2531) as
Arrow-batched grouped UDFs:

- :meth:`FeatureExtractor.extract` — one feature vector per entity over its
  whole series (the reference's ``many``: one curve in, one vector out).
- :meth:`FeatureExtractor.extract_point_in_time` — one feature vector per
  entity×timestamp probe, seeing ONLY observations with ``t <= ts`` (and
  ``t >= ts - horizon`` when a range horizon is given — both bounds
  INCLUSIVE, matching SQL ``RANGE BETWEEN h PRECEDING AND CURRENT
  ROW``): the as-of/point-in-time
  semantics the north rule adds on top of the reference, with zero temporal
  leakage by construction (slices are taken with ``np.searchsorted`` on the
  sorted time axis, never a full-table filter that could drift).

All kernels for a row are evaluated in ONE pass per group — the reference's
Extractor fusion (features/extractor.py:36-41) — because Catalyst cannot fuse
across Python UDF boundaries (SURVEY.md §4).

Skew: hot entities (observation count above ``hot_threshold``) are handled by
salting: their probe rows are split across ``salt_partitions`` buckets and the
observation side is replicated per bucket, so one giant entity no longer pins
a single task.  Only the probe side is split — every probe still sees the full
observation history, so order-sensitive kernels stay exact (SURVEY.md §7
"hard parts" (4)).

The token payload (or any probe column) is carried through untouched: the
point-in-time cogroup appends feature columns to the probe Arrow buffers as
they arrived (asserted byte-for-byte in tests/test_extract.py).
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.battery import PrefixBattery
from ..functions.curves import eval_window, sort_curve
from ..functions.kernels import Kernel, make_kernel
from ..functions.transforms import apply_transform_column
from ..session import drop_zip_importers

__all__ = ["FeatureExtractor"]

FeatureArg = Union[str, Kernel, tuple]


def _resolve(features: Iterable[FeatureArg]) -> List[Kernel]:
    out = []
    for f in features:
        if isinstance(f, Kernel):
            out.append(f)
        elif isinstance(f, str):
            out.append(make_kernel(f))
        elif isinstance(f, tuple):
            key, params = f
            out.append(make_kernel(key, **params))
        else:
            raise TypeError(f"bad feature spec: {f!r}")
    return out


class FeatureExtractor:
    """A compiled feature-extraction plan (the engine's analogue of the
    reference's ``Extractor`` object — immutable, picklable, shipped to
    executors inside the UDF closure)."""

    def __init__(self, features: Sequence[FeatureArg],
                 fill_value: Optional[float] = float("nan"),
                 bands: Optional[Sequence[str]] = None,
                 transforms: Optional[object] = None):
        self.kernels = _resolve(features)
        self.fill_value = fill_value
        self.bands = list(bands) if bands else None
        if transforms is True:
            # the reference spells this transform=True — accept it as the
            # stock-transform request rather than failing in dict(True)
            transforms = "default"
        if transforms == "default":
            # the reference's transform=True: per-class stock transforms
            from ..functions.transforms import DEFAULT_TRANSFORMS
            keys = {k.key for k in self.kernels}
            transforms = {k: v for k, v in DEFAULT_TRANSFORMS.items()
                          if k in keys}
        self.transforms = dict(transforms or {})
        if not self.kernels:
            raise ValueError("need at least one feature")

    # ---- metadata --------------------------------------------------------

    @property
    def base_names(self) -> List[str]:
        return [n for k in self.kernels for n in k.names]

    @property
    def names(self) -> List[str]:
        """Output column names; per-band suffix convention ``{name}_{band}``
        matches the reference's multiband naming (SURVEY.md §1.3)."""
        if self.bands is None:
            return self.base_names
        return [f"{n}_{b}" for b in self.bands for n in self.base_names]

    @property
    def needs_sigma(self) -> bool:
        return any(k.needs_sigma for k in self.kernels)

    def _feature_fields(self):
        return [T.StructField(n, T.DoubleType(), True) for n in self.names]

    # ---- kernel-side evaluation ------------------------------------------

    def _check_name_collisions(self, existing, what):
        clash = set(self.names) & set(existing)
        if clash:
            raise ValueError(
                f"feature output names collide with {what}: "
                f"{sorted(clash)} — rename the columns or the features "
                "(a duplicate-name schema fails deep inside the "
                "executors otherwise)")

    # ---- whole-entity extraction -----------------------------------------

    def extract(self, obs: DataFrame, entity_col: str = "doc_id",
                t_col: str = "t", m_col: str = "m",
                sigma_col: Optional[str] = "sigma",
                band_col: str = "band",
                grouped_batches: bool = True) -> DataFrame:
        """One output row per entity over its complete series.

        grouped_batches=True (default) evaluates MANY entities per Python
        call via aggregate-then-map (``_extract_agg_arrow``): each
        entity's curve is collected into ONE ``list<struct>`` row with a
        hash aggregation (map-side combine, no sort) and slices are
        evaluated straight off the Arrow buffers in ``mapInArrow`` —
        Python never materializes or groups the scalar rows.  ``False``
        selects the one-call-per-group applyInPandas path (identical
        results; kept for comparison tests)."""
        # prune sigma when no kernel needs it (an explicitly passed
        # column would otherwise ship through Arrow for nothing, and a
        # sigma-less dataset would fail the select)
        sigma_col = sigma_col if self.needs_sigma else None
        cols = [entity_col, t_col, m_col]
        if sigma_col:
            cols.append(sigma_col)
        if self.bands is not None:
            cols.append(band_col)
        pruned = obs.select(*cols)  # explicit column pruning into the UDF

        entity_field = pruned.schema[entity_col]
        self._check_name_collisions([entity_col], "the entity column")
        schema = T.StructType([entity_field] + self._feature_fields())
        names = self.names
        kernels, fill, bands = self.kernels, self.fill_value, self.bands

        if not grouped_batches:
            def fn_group(pdf: pd.DataFrame) -> pd.DataFrame:
                drop_zip_importers()
                vec = eval_window(kernels, fill, bands, *sort_curve(
                    pdf[t_col].to_numpy(), pdf[m_col].to_numpy(),
                    pdf[sigma_col].to_numpy() if sigma_col else None,
                    pdf[band_col].to_numpy() if bands is not None else None,
                    bands))
                row = {entity_col: [pdf[entity_col].iloc[0]]}
                row.update({n: [v] for n, v in zip(names, vec)})
                return pd.DataFrame(row)

            out = pruned.groupBy(entity_col).applyInPandas(fn_group, schema)
            return self._apply_transforms(out)

        out = self._extract_agg_arrow(pruned, entity_col, t_col, m_col,
                                      sigma_col, band_col, schema, names)
        return self._apply_transforms(out)

    def _extract_agg_arrow(self, pruned: DataFrame, entity_col, t_col,
                           m_col, sigma_col, band_col, schema, names):
        """Aggregate-then-map grouped evaluation: collect each entity's
        curve into ONE list<struct> row (hash aggregation with map-side
        combine), then evaluate slices straight off the Arrow buffers.

        Replaces the repartition + sortWithinPartitions + pandas-groupby
        route: the shuffle moves the same bytes as fewer, larger rows,
        needs NO sort (hash agg), and Python never runs a groupby over
        the scalar rows — measured 3.6 s -> 0.8 s for the non-kernel
        floor of the 11.4M-row periodogram headline at sf1.  Same
        numbers: per-entity arrays are identical (lexsort tie order,
        NaN-for-null via Arrow, the band-code guard — all exactly
        functions.curves.sort_curve; the struct fields of one collect_list
        are filled from the same input iterator, so columns cannot
        misalign)."""
        import pyarrow as pa

        kernels, fill, bands = self.kernels, self.fill_value, self.bands
        has_sigma = sigma_col is not None
        fields = [F.col(t_col).alias("t"), F.col(m_col).alias("m")]
        if has_sigma:
            fields.append(F.col(sigma_col).alias("s"))
        if bands is not None:
            fields.append(F.col(band_col).alias("b"))
        curve_col = "_curve" if entity_col != "_curve" else "_curve_"
        g = (pruned.groupBy(entity_col)
             .agg(F.collect_list(F.struct(*fields)).alias(curve_col)))

        def fn(batches):
            drop_zip_importers()
            for batch in batches:
                col = batch.column(batch.schema.names.index(curve_col))
                values = col.values          # struct child (unsliced)
                offs = col.offsets.to_numpy()  # slice-aware, len+1
                t_all = values.field(0).to_numpy(zero_copy_only=False) \
                    .astype(np.float64, copy=False)
                m_all = values.field(1).to_numpy(zero_copy_only=False) \
                    .astype(np.float64, copy=False)
                nxt = 2
                s_all = None
                if has_sigma:
                    s_all = values.field(nxt) \
                        .to_numpy(zero_copy_only=False) \
                        .astype(np.float64, copy=False)
                    nxt += 1
                b_all = (values.field(nxt).to_numpy(zero_copy_only=False)
                         if bands is not None else None)
                feats = np.empty((len(col), len(names)), dtype=np.float64)
                for i in range(len(col)):
                    sl = slice(offs[i], offs[i + 1])
                    feats[i] = eval_window(kernels, fill, bands, *sort_curve(
                        t_all[sl], m_all[sl],
                        None if s_all is None else s_all[sl],
                        None if b_all is None else b_all[sl], bands))
                out_schema = pa.schema(
                    [batch.schema.field(entity_col)]
                    + [pa.field(n, pa.float64()) for n in names])
                # from_pandas=True: NaN -> SQL NULL, matching the pandas
                # serializer of the replaced mapInPandas route (fill rows
                # were NULL there; a bare pa.array would keep NaN doubles
                # and silently change fill semantics)
                arrays = [batch.column(
                    batch.schema.names.index(entity_col))] \
                    + [pa.array(feats[:, j], from_pandas=True)
                       for j in range(len(names))]
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

        return g.select(entity_col, curve_col).mapInArrow(fn, schema)

    # ---- point-in-time extraction ----------------------------------------

    def extract_point_in_time(
            self, obs: DataFrame, probes: DataFrame,
            entity_col: str = "doc_id", t_col: str = "t", m_col: str = "m",
            sigma_col: Optional[str] = "sigma", band_col: str = "band",
            ts_col: str = "ts", horizon: Optional[float] = None,
            salt_partitions: Optional[int] = None,
            hot_threshold: Optional[int] = None) -> DataFrame:
        """Feature vector per probe row, window = {obs : t <= ts
        [and t >= ts - horizon, both bounds inclusive]}.

        One ``applyInArrow`` cogroup per entity: column buffers go straight
        to numpy, and every probe column (token payloads included) passes
        through untouched as a raw Arrow buffer.  Full-history band-free
        windows evaluate a group's whole probe set in one
        :class:`PrefixBattery` pass; a horizon or bands evaluate each
        probe's window slice.  Fill rows are NaN doubles on the battery
        route and SQL NULL on the per-window route.
        """
        # prune sigma when no kernel needs it (an explicitly passed
        # column would otherwise ship through Arrow for nothing, and a
        # sigma-less dataset would fail the select)
        sigma_col = sigma_col if self.needs_sigma else None
        self._check_name_collisions(probes.columns, "probe columns")
        ocols = [entity_col, t_col, m_col]
        if sigma_col:
            ocols.append(sigma_col)
        if self.bands is not None:
            ocols.append(band_col)
        obs_p = obs.select(*ocols)

        group_keys = [entity_col]
        if salt_partitions and hot_threshold:
            obs_p, probes, group_keys = self._salt(
                obs_p, probes, entity_col, ts_col,
                salt_partitions, hot_threshold)
        schema = T.StructType(probes.schema.fields + self._feature_fields())
        out = self._pit_arrow(obs_p, probes, group_keys, schema, horizon,
                              t_col, m_col, sigma_col, band_col, ts_col)
        if "_salt" in out.columns:
            out = out.drop("_salt")
        return self._apply_transforms(out)

    def _pit_arrow(self, obs_p: DataFrame, probes: DataFrame, group_keys,
                   schema, horizon, t_col, m_col, sigma_col, band_col,
                   ts_col) -> DataFrame:
        """The per-entity ``applyInArrow`` cogroup behind every
        :meth:`extract_point_in_time` call."""
        import pyarrow as pa

        names = self.names
        probe_names = probes.columns
        kernels, fill, bands = self.kernels, self.fill_value, self.bands
        battery = (PrefixBattery(kernels, fill)
                   if horizon is None and bands is None else None)

        def fn(obs_t: "pa.Table", probes_t: "pa.Table") -> "pa.Table":
            drop_zip_importers()
            out_schema = pa.schema(
                list(probes_t.schema)
                + [pa.field(n, pa.float64()) for n in names])
            if probes_t.num_rows == 0:
                return out_schema.empty_table()
            t, m, s, codes = sort_curve(
                obs_t.column(t_col).to_numpy(),
                obs_t.column(m_col).to_numpy(),
                obs_t.column(sigma_col).to_numpy() if sigma_col else None,
                obs_t.column(band_col).to_numpy()
                if bands is not None else None, bands)
            ts = probes_t.column(ts_col).to_numpy() \
                .astype(np.float64, copy=False)
            ends = np.searchsorted(t, ts, side="right")
            # a NULL/NaN cutoff must see NOTHING (fill row) — searchsorted
            # treats NaN as +inf, which would leak the full history
            cut = np.isnan(ts)
            ends[cut] = 0
            if battery is not None:
                feats = battery.evaluate_prefixes(t, m, s, ends)
            else:
                # inclusive lower bound: t >= ts - horizon, matching
                # Window.rangeBetween(-horizon, 0)
                starts = (np.searchsorted(t, ts - horizon, side="left")
                          if horizon is not None else np.zeros_like(ends))
                starts[cut] = 0
                feats = np.empty((len(ts), len(names)), dtype=np.float64)
                for j in range(len(ts)):
                    sl = slice(starts[j], ends[j])
                    feats[j] = eval_window(
                        kernels, fill, bands, t[sl], m[sl],
                        None if s is None else s[sl],
                        None if codes is None else codes[sl])
            # fill rows: NaN doubles on the battery route, SQL NULL
            # (from_pandas) on the per-window route — both pinned by
            # test_point_in_time_fill_encoding
            cols = [probes_t.column(n).combine_chunks()
                    for n in probe_names] + \
                   [pa.array(feats[:, i], from_pandas=battery is None)
                    for i in range(len(names))]
            return pa.Table.from_arrays(cols, schema=out_schema)

        grouped = obs_p.groupby(*group_keys).cogroup(
            probes.groupby(*group_keys))
        return grouped.applyInArrow(fn, schema)

    # ---- nested-input extraction --------------------------------------------

    def extract_nested(self, df: DataFrame, curve_col: str = "curve",
                       t_field="t", m_field="m", sigma_field="sigma",
                       band_field=None) -> DataFrame:
        """Whole-entity extraction over a NESTED curve column
        ``array<struct<...>>`` — the reference's Arrow ``List<Struct>``
        input contract (/root/reference/light-curve/src/arrow_input.rs:
        166-284): struct fields are resolved by name or zero-based index,
        t/m/sigma must share one float dtype, band may be string or
        integer, and ANY null (list, struct, or field level) is rejected
        (features.rs:1795-1811).

        Because each row already carries its complete curve, this is a
        ZERO-SHUFFLE map (mapInArrow): no groupBy, no exchange — the plan
        a nested Iceberg/parquet layout buys at scale.  All non-curve
        columns pass through untouched.  Output equals
        :meth:`extract` on the exploded long format (asserted in
        tests/test_extract.py).
        """
        import pyarrow as pa

        elem = df.schema[curve_col].dataType
        if not isinstance(elem, T.ArrayType) \
                or not isinstance(elem.elementType, T.StructType):
            raise TypeError(
                f"{curve_col} must be array<struct<...>>, got "
                f"{elem.simpleString()}")
        struct_fields = elem.elementType.fields

        def resolve(ref, role):
            if ref is None:
                return None
            if isinstance(ref, int):
                if not 0 <= ref < len(struct_fields):
                    raise ValueError(f"{role}: field index {ref} out of "
                                     f"range")
                return ref
            for i, f in enumerate(struct_fields):
                if f.name == ref:
                    return i
            raise ValueError(f"{role}: no struct field named {ref!r}")

        # prune when unneeded (and keep a valid falsy index 0 when needed)
        sigma_field = sigma_field if self.needs_sigma else None
        t_idx = resolve(t_field, "t")
        m_idx = resolve(m_field, "m")
        s_idx = resolve(sigma_field, "sigma")
        if self.bands is not None and band_field is None:
            # fail at the driver with the real cause, not a NameError
            # inside every executor task
            raise ValueError(
                "banded extractor needs band_field (the struct field "
                "carrying the band)")
        b_idx = resolve(band_field if self.bands is not None else None,
                        "band")
        numeric = [(t_idx, "t"), (m_idx, "m")] \
            + ([(s_idx, "sigma")] if s_idx is not None else [])
        seen = {}
        for idx, role in numeric:
            if idx in seen:
                raise ValueError(f"arrow_fields: {seen[idx]} and {role} "
                                 f"must refer to different fields")
            seen[idx] = role
        dtypes = {struct_fields[i].dataType.simpleString()
                  for i, _ in numeric}
        if not dtypes <= {"float", "double"} or len(dtypes) != 1:
            raise TypeError("Struct fields for t/m/sigma must share one "
                            f"float dtype, got {sorted(dtypes)}")
        if b_idx is not None:
            bt = struct_fields[b_idx].dataType.simpleString()
            if bt not in ("string", "tinyint", "smallint", "int", "bigint"):
                raise TypeError(f"band field must be string or integer, "
                                f"got {bt}")

        pass_names = [c for c in df.columns if c != curve_col]
        self._check_name_collisions(pass_names, "pass-through columns")
        schema = T.StructType(
            [df.schema[c] for c in pass_names] + self._feature_fields())
        names = self.names
        kernels, fill, bands = self.kernels, self.fill_value, self.bands

        def fn(batches):
            drop_zip_importers()
            for batch in batches:
                col = batch.column(batch.schema.names.index(curve_col))
                if col.null_count:
                    raise ValueError("null curves are not allowed")
                values = col.values          # struct child (unsliced)
                if values.null_count:
                    raise ValueError("null curve elements are not allowed")
                offs = col.offsets.to_numpy()  # slice-aware, len(batch)+1
                childs = {}
                for idx, _role in numeric:
                    ch = values.field(idx)
                    if ch.null_count:
                        raise ValueError(
                            "null t/m/sigma values are not allowed")
                    childs[idx] = ch.to_numpy(zero_copy_only=False) \
                        .astype(np.float64, copy=False)
                if b_idx is not None:
                    bch = values.field(b_idx)
                    if bch.null_count:
                        raise ValueError("null band values are not allowed")
                    band_all = bch.to_numpy(zero_copy_only=False)
                feats = np.empty((len(col), len(names)), dtype=np.float64)
                for i in range(len(col)):
                    sl = slice(offs[i], offs[i + 1])
                    feats[i] = eval_window(kernels, fill, bands, *sort_curve(
                        childs[t_idx][sl], childs[m_idx][sl],
                        None if s_idx is None else childs[s_idx][sl],
                        None if b_idx is None else band_all[sl], bands))
                out = pa.schema(
                    [batch.schema.field(n) for n in pass_names]
                    + [pa.field(n, pa.float64()) for n in names])
                arrays = [batch.column(batch.schema.names.index(n))
                          for n in pass_names] \
                    + [pa.array(feats[:, j]) for j in range(len(names))]
                yield pa.RecordBatch.from_arrays(arrays, schema=out)

        cols = pass_names + [curve_col]
        out = df.select(*cols).mapInArrow(fn, schema)
        return self._apply_transforms(out)

    # ---- Bins meta-feature composition -------------------------------------

    def extract_binned(self, obs: DataFrame, window: float,
                       offset: float = 0.0, entity_col: str = "doc_id",
                       t_col: str = "t", m_col: str = "m",
                       sigma_col: str = "sigma") -> DataFrame:
        """The reference's ``Bins(features, window, offset)`` meta-feature
        (features/bins.py:14-40): inverse-variance rebin into tumbling
        windows, then this extractor over the binned series."""
        from .bins import bin_series
        if self.bands is not None:
            # bin_series drops the band column (windows pool all bands),
            # so banded extraction over binned series has no meaning —
            # fail here instead of a cryptic select(None) downstream
            raise ValueError(
                "extract_binned does not support banded extractors: "
                "bin_series pools observations across bands; build a "
                "band-free extractor for the binned pass")
        binned = bin_series(obs, entity_col, t_col, m_col, sigma_col,
                            window=window, offset=offset)
        return self.extract(binned, entity_col, t_col, m_col, sigma_col,
                            band_col=None)

    # ---- skew salting ------------------------------------------------------

    @staticmethod
    def _salt(obs: DataFrame, probes: DataFrame, entity_col: str,
              ts_col: str, k: int, hot_threshold: int):
        """Split hot entities' probes across k buckets; replicate their
        observations per bucket.  Cold entities keep salt=0 with no
        replication, so total obs duplication is bounded by
        k × (hot-entity rows).

        LIMITATION: buckets are keyed on ``xxhash64(ts)`` (deterministic,
        required for checkpoint resume).  A degenerate probe set with ONE
        distinct ts per hot entity (single-snapshot scoring) lands every
        probe in one bucket — the skew stays AND the k× obs replication
        is still paid; disable salting (or spread the snapshot into
        distinct ts values) for that workload shape."""
        counts = obs.groupBy(entity_col).agg(F.count("*").alias("_n_obs"))
        hot = counts.filter(F.col("_n_obs") > hot_threshold) \
                    .select(entity_col, F.lit(True).alias("_hot"))
        probes = (
            probes.join(F.broadcast(hot), entity_col, "left")
            .withColumn(
                "_salt",
                F.when(F.col("_hot").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col(ts_col)), F.lit(k)).cast("int")))
            .drop("_hot"))
        obs = (
            obs.join(F.broadcast(hot), entity_col, "left")
            .withColumn(
                "_salt",
                F.explode(F.when(F.col("_hot").isNull(),
                                 F.array(F.lit(0)))
                          .otherwise(F.sequence(F.lit(0), F.lit(k - 1)))))
            .drop("_hot"))
        return obs, probes, [entity_col, "_salt"]

    # ---- transforms --------------------------------------------------------

    def _apply_transforms(self, df: DataFrame) -> DataFrame:
        # a transforms key may be a kernel registry key (covers all of that
        # kernel's output columns) or a literal output-column name
        targets = {}
        for key, tname in self.transforms.items():
            hit = [k for k in self.kernels if k.key == key]
            names = [n for k in hit for n in k.names] if hit else [key]
            for n in names:
                targets[n] = tname
        # ONE projection for all transformed columns — a withColumn per
        # target would stack O(bands x features) nested projections into
        # the Catalyst plan
        by_col = {}
        for name, tname in targets.items():
            for col in df.columns:
                if col == name or (self.bands and any(
                        col == f"{name}_{b}" for b in self.bands)):
                    by_col[col] = tname
        if not by_col:
            return df
        return df.select(*[
            apply_transform_column(by_col[c], F.col(f"`{c}`"))
            .alias(c) if c in by_col else F.col(f"`{c}`")
            for c in df.columns])
