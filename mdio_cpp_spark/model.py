"""MdioDataset / MdioVariable — the reference's data model on Spark.

The user-facing equivalent of ``mdio::Dataset`` / ``mdio::Variable``
(/root/reference/mdio/dataset.h:183-199, variable.h:1014-1716):

  * ``MdioDataset.open(path)`` — IO1: version probe + consolidated-metadata
    read, one lazy variable handle per array (dataset.h:941-1118).
  * ``MdioDataset.from_json(spec, path)`` — IO2: validate the MDIO v1 JSON
    spec (schema/validation.py) and materialize every array + consolidated
    metadata (dataset.h:312-403, dataset_factory.h:713-757).
  * ``isel`` / ``sel`` — lazy slicing: selections compose into per-dimension
    index ranges held on the handle; NO data moves until ``to_df``/``read``
    (the reference's index-transform laziness, variable.h:1339-1354). The
    ranges drive chunk pruning in the Spark scan.
  * ``sel`` value semantics mirror the reference exactly: labels must be 1-D
    dimension coordinates; a range start/stop that matches zero or multiple
    coordinate values is an error (dataset.h:824-838); stop is INCLUSIVE
    (dataset.h:872-876); membership lists reject duplicates
    (dataset.h:584-609); a point value that never occurs is an error
    (dataset.h:840-847).
  * ``commit_metadata`` — IO7: republids root+variable attributes and the
    consolidated metadata (dataset.h:1269-1416, variable.h:1522-1614).
  * ``set_stats`` / ``set_units`` / ``update_attrs`` — A6: the UserAttributes
    wholesale-replacement model (stats.h:408-490); nothing touches disk until
    commit_metadata, mirroring the reference's pointer-swap + publish split.

Dimension coordinates read driver-side through the pure-Python store (they
are small 1-D arrays — same judgment the reference makes by scanning them on
one thread, dataset.h:552-629). Data variables scan through the distributed
reader (sources/reader.py).
"""

from __future__ import annotations

import copy
from dataclasses import dataclass
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from mdio_cpp_spark.schema.validation import validate_dataset_spec, variable_specs
from mdio_cpp_spark.sources.reader import plan_chunks, scan_array
from mdio_cpp_spark.sources.writer import write_array
from mdio_cpp_spark.sources.zarr_store import ZarrArrayMeta, ZarrStore

__all__ = ["MdioDataset", "MdioVariable", "SelError"]


class SelError(ValueError):
    """Value-based selection failed (reference error semantics)."""


def _intersect_runs(
    a: list[tuple[int, int]], b: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Intersection of two ascending disjoint half-open run lists."""
    out: list[tuple[int, int]] = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if hi > lo:
            out.append((lo, hi))
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


@dataclass
class MdioVariable:
    """One labeled array handle (Variable analog). Lazy — holds metadata and
    the dataset's accumulated selection, never array data."""

    dataset: "MdioDataset"
    meta: ZarrArrayMeta

    @property
    def name(self) -> str:
        return self.meta.name

    @property
    def dims(self) -> tuple[str, ...]:
        return self.meta.dims or tuple(f"dim_{d}" for d in range(self.meta.ndim))

    @property
    def attrs(self) -> dict:
        return self.dataset._pending_attrs.get(self.name, self.meta.attrs)

    @property
    def shape(self) -> tuple[int, ...]:
        """Full stored extent (reference ``get_store_shape``, zarr/zarr.h)."""
        return tuple(self.meta.shape)

    @property
    def chunk_shape(self) -> tuple[int, ...]:
        """Chunk extents (reference ``get_chunk_shape``, zarr/zarr.h)."""
        return tuple(self.meta.chunks)

    def get_units(self) -> dict | None:
        """The variable's ``unitsV1`` block, if any (stats.h get_units)."""
        return self.attrs.get("unitsV1")

    def num_samples(self) -> int:
        """Cell count of the (selected) domain (variable.h:1153-1162)."""
        total = 1
        for d, size in self._selected_sizes().items():
            total *= size
        return total

    def get_intervals(self) -> dict[str, tuple[int, int]]:
        """Per-dimension half-open [lo, hi) of the selected domain
        (variable.h:1652-1698). A dimension holding a non-contiguous
        multi-run selection cannot be summarized by one interval — raise
        instead of silently returning the unselected domain; use
        ``interval_runs()`` for the per-run breakdown."""
        out = {}
        for d, dim in enumerate(self.dims):
            if dim in self.dataset._runs:
                raise SelError(
                    f"get_intervals: {dim!r} carries a non-contiguous multi-run "
                    "selection; use interval_runs()"
                )
            lo, hi, _ = self.dataset._ranges.get(dim, (0, self.meta.shape[d], 1))
            out[dim] = (max(0, lo), min(self.meta.shape[d], hi))
        return out

    def interval_runs(self) -> dict[str, list[tuple[int, int]]]:
        """Per-dimension list of half-open runs — the multi-run-aware form of
        ``get_intervals`` (single-interval dims return a one-element list)."""
        out: dict[str, list[tuple[int, int]]] = {}
        for d, dim in enumerate(self.dims):
            if dim in self.dataset._runs:
                out[dim] = self._effective_runs(dim)
            else:
                lo, hi, _ = self.dataset._ranges.get(dim, (0, self.meta.shape[d], 1))
                out[dim] = [(max(0, lo), min(self.meta.shape[d], hi))]
        return out

    def _selected_sizes(self) -> dict[str, int]:
        out = {}
        for d, dim in enumerate(self.dims):
            if dim in self.dataset._runs:
                # multi-run point sel: selected size is the sum of run lengths
                out[dim] = sum(hi - lo for lo, hi in self._effective_runs(dim))
                continue
            lo, hi, step = self.dataset._ranges.get(dim, (0, self.meta.shape[d], 1))
            lo, hi = max(0, lo), min(self.meta.shape[d], hi)
            out[dim] = max(0, -(-(hi - lo) // step))
        return out

    def _effective_runs(self, dim: str) -> list[tuple[int, int]]:
        """Runs for a dim, intersected with any isel range composed on top
        (a sel-multi-run followed by isel on the same label must honor
        both); empty-intersection runs drop out."""
        runs = self.dataset._runs[dim]
        if dim not in self.dataset._ranges:
            return list(runs)
        rlo, rhi, _ = self.dataset._ranges[dim]
        out = [(max(lo, rlo), min(hi, rhi)) for lo, hi in runs]
        return [(lo, hi) for lo, hi in out if hi > lo]

    def _range_combos(self) -> list[dict[str, tuple]]:
        """Expand the selection into per-scan range dicts: the base box plus
        one entry per combination of multi-run dims. Capped at MAX_NUM_SLICES
        like the reference (impl.h:181-186; vector form windows beyond it)."""
        import itertools as _it

        run_dims = [d for d in self.dims if d in self.dataset._runs]
        base = {
            d: self.dataset._ranges[d]
            for d in self.dims
            if d in self.dataset._ranges and d not in run_dims
        }
        if not run_dims:
            return [base]
        per_dim_runs = [
            self._effective_runs(d) for d in run_dims
        ]
        combos = []
        for combo in _it.product(*per_dim_runs):
            r = dict(base)
            for d, (lo, hi) in zip(run_dims, combo):
                r[d] = (lo, hi)
            combos.append(r)
        if len(combos) > 1024:
            # the reference caps descriptors per call at 32 and windows
            # beyond it (impl.h:181-186, dataset.h:512-546); a union of a
            # thousand scans is a plan-size explosion, not a query — ask for
            # a coarser selection instead
            raise SelError(
                f"selection expands to {len(combos)} scan ranges (cap 1024); "
                "coarsen the multi-run selection"
            )
        return combos

    def to_df(self, spark: SparkSession, fields: list[str] | None = None, value_col: str = "value",
              value_filter: tuple | None = None) -> DataFrame:
        """Distributed chunk-pruned scan of the selected domain (IO4).
        Multi-run selections union one pruned scan per contiguous run
        (tensorstore::Concat analog, variable.h:1390-1391). ``value_filter``
        pushes a value predicate into the decoder (see sources/reader.py)."""
        combos = self._range_combos()
        if not combos:
            # a composed selection emptied every run: a valid empty result
            # (correct schema, zero rows), not an error
            combos = [{self.dims[0]: (0, 0)}]
        dfs = [
            scan_array(spark, self.dataset.path, self.name, ranges=r or None,
                       fields=fields, value_col=value_col, value_filter=value_filter)
            for r in combos
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read(self) -> np.ndarray:
        """Driver-side materialization (VariableData analog) — small arrays
        only; the distributed path is ``to_df``. Multi-run selections on one
        dimension read per-run and concatenate (all occurrences kept, like
        the reference's per-index isel list); runs on >1 dimension have no
        dense rectangular materialization — use ``to_df``."""
        run_dims = [d for d in self.dims if d in self.dataset._runs]
        base: dict[str, tuple[int, int]] = {}
        steps = []
        for d, dim in enumerate(self.dims):
            if dim in self.dataset._runs:
                steps.append(1)  # strided-onto-runs is rejected at isel()
                continue
            lo, hi, step = self.dataset._ranges.get(dim, (0, self.meta.shape[d], 1))
            base[dim] = (max(0, lo), min(self.meta.shape[d], hi))
            steps.append(step)
        strided = tuple(slice(None, None, st) for st in steps)

        def _stride(arr: np.ndarray) -> np.ndarray:
            return arr[strided] if any(st > 1 for st in steps) else arr

        if not run_dims:
            return _stride(self.dataset.store.read_array(self.name, base))
        if len(run_dims) > 1:
            raise SelError(
                "read(): multi-run selections on more than one dimension have "
                "no rectangular materialization; use to_df()"
            )
        dim = run_dims[0]
        axis = list(self.dims).index(dim)
        parts = [
            _stride(self.dataset.store.read_array(self.name, {**base, dim: (lo, hi)}))
            for lo, hi in self._effective_runs(dim)
        ]
        if not parts:
            # empty selection: SELECTED sizes (not the stored shape) so the
            # result stays consistent with num_samples()/get_intervals()
            sizes = self._selected_sizes()
            shape = [sizes[dm] for dm in self.dims]
            shape[axis] = 0
            return np.empty(shape, dtype=self.meta.np_dtype)
        return np.concatenate(parts, axis=axis)

    def planned_chunks(self) -> int:
        """How many chunks the current selection will touch (pruning probe)."""
        return sum(plan_chunks(self.meta, r or None)[1] for r in self._range_combos())

    def write_df(self, df: DataFrame, value_cols: dict[str, str] | str = "value") -> dict:
        """Chunk-aligned distributed write (IO5)."""
        return write_array(df, self.dataset.path, self.name, value_cols=value_cols)


class MdioDataset:
    """Collection of variables on a shared named-dimension grid."""

    def __init__(self, path: str, store: ZarrStore, metas: dict[str, ZarrArrayMeta]):
        self.path = path
        self.store = store
        self._metas = metas
        self._ranges: dict[str, tuple[int, int, int]] = {}
        # non-contiguous point-sel results: label -> list of (lo, hi) runs
        self._runs: dict[str, list[tuple[int, int]]] = {}
        self._pending_attrs: dict[str, dict] = {}
        self._pending_root: dict | None = None

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def open(cls, path: str) -> "MdioDataset":
        store = ZarrStore.open(path)
        return cls(path, store, store.arrays())

    @classmethod
    def from_json(cls, spec: dict, path: str, version: int = 2,
                  compressor: dict | None = None,
                  mode: str = "create") -> "MdioDataset":
        """Create a dataset from a validated MDIO v1 JSON spec (IO2).

        ``mode`` carries the reference's open-option contract (USER_GUIDE
        "Open options"): ``"create"`` (kCreate) errors if a store already
        exists at ``path`` — silently merging group metadata over live
        arrays is how data gets lost; ``"create_clean"`` (kCreateClean)
        deletes any existing store first (the reference flags it
        testing-only for the same reason).

        ``compressor`` overrides the per-variable spec compressor; the spec's
        ``blosc`` entries are honored with every cname the reference accepts
        (sources/blosc1.py).
        """
        if mode not in ("create", "create_clean"):
            raise ValueError(f"mode must be 'create' or 'create_clean', got {mode!r}")
        try:
            ZarrStore.probe_version(path)
            exists = True
        except FileNotFoundError:
            exists = False
        if exists:
            if mode == "create":
                raise FileExistsError(
                    f"a store already exists at {path!r} (kCreate semantics); "
                    "pass mode='create_clean' to overwrite"
                )
            # kCreateClean must actually CLEAR the old store for every
            # supported scheme. A local rmtree would silently no-op on
            # gs://, s3://, memory://, … and the following create would then
            # MERGE group metadata over live chunk data — the exact data-loss
            # scenario the mode exists to prevent. Route deletion through
            # the kvstore abstraction instead.
            ZarrStore.open(path).delete()
        spec = validate_dataset_spec(copy.deepcopy(spec))
        store = ZarrStore.create(path, version=version, attrs=spec["metadata"])
        for vs in variable_specs(spec):
            comp = compressor
            if comp is None:
                comp = _map_spec_compressor(vs["compressor"])
            attrs = dict(vs["metadata"] or {})
            if vs.get("longName"):
                attrs["long_name"] = vs["longName"]
            if vs.get("coordinates"):
                attrs["coordinates"] = " ".join(vs["coordinates"])
            store.create_array(
                vs["name"], shape=vs["shape"], chunks=vs["chunks"], dtype=vs["dataType"],
                dims=vs["dims"], attrs=attrs, compressor=comp,
            )
        store.consolidate()
        return cls(path, store, store.arrays())

    # ------------------------------------------------------------ accessors

    @property
    def variables(self) -> dict[str, MdioVariable]:
        return {name: MdioVariable(self, meta) for name, meta in self._metas.items()}

    def __getitem__(self, name: str) -> "MdioDataset":
        """operator[] — project one variable + its dims + coordinates into a
        sub-dataset (dataset.h:896-925)."""
        if name not in self._metas:
            raise KeyError(f"no variable {name!r}")
        keep = {name}
        meta = self._metas[name]
        keep.update(d for d in meta.dims if d in self._metas)
        for coord in str(meta.attrs.get("coordinates", "")).split():
            if coord in self._metas:
                keep.add(coord)
        return self._copy_with(metas={k: v for k, v in self._metas.items() if k in keep})

    def var(self, name: str) -> MdioVariable:
        if name not in self._metas:
            raise KeyError(f"no variable {name!r}")
        return MdioVariable(self, self._metas[name])

    def domain(self) -> dict[str, int]:
        """Union of per-label sizes across variables (dataset.h:1058-1105)."""
        out: dict[str, int] = {}
        for meta in self._metas.values():
            for d, dim in enumerate(meta.dims):
                out[dim] = max(out.get(dim, 0), meta.shape[d])
        return out

    def list_variables(self) -> list[str]:
        """Deterministic sorted listing (S1, variable_collection.h:148-155)."""
        return sorted(self._metas)

    def to_spec(self) -> dict:
        """Emit the MDIO v1 JSON spec of the open dataset — the inverse of
        ``from_json`` (the reference's ``Dataset::spec`` / ``get_spec``,
        dataset.h:927-939). The result validates and re-creates an
        equivalent store: ``from_json(ds.to_spec(), path2)``."""
        variables = []
        for name in self.list_variables():
            m = self._metas[name]
            dims = m.dims or tuple(f"dim_{d}" for d in range(len(m.shape)))
            if m.np_dtype.fields is not None:
                dt: Any = {
                    "fields": [
                        {"name": n, "format": np.dtype(m.np_dtype.fields[n][0]).name}
                        for n in m.np_dtype.names
                    ]
                }
            else:
                dt = m.mdio_type or m.np_dtype.name
            attrs = dict(m.attrs)
            var: dict[str, Any] = {
                "name": name,
                "dataType": dt,
                "dimensions": [
                    {"name": d, "size": int(s)} for d, s in zip(dims, m.shape)
                ],
            }
            if attrs.pop("long_name", None) is not None:
                var["longName"] = m.attrs["long_name"]
            coords = attrs.pop("coordinates", None)
            if coords:
                var["coordinates"] = coords.split(" ") if isinstance(coords, str) else list(coords)
            md: dict[str, Any] = {
                "chunkGrid": {
                    "name": "regular",
                    "configuration": {"chunkShape": [int(c) for c in m.chunks]},
                }
            }
            md.update(attrs)
            var["metadata"] = md
            variables.append(var)
        root = dict(self.store.attrs)
        # stores created outside from_json may lack the required root keys;
        # default them so the emitted spec always validates
        root.setdefault("name", self.path.rstrip("/").rsplit("/", 1)[-1])
        root.setdefault("apiVersion", "1.0.0")
        return {"metadata": root, "variables": variables}

    # ------------------------------------------------------------ selection

    def _copy_with(self, metas: dict[str, ZarrArrayMeta] | None = None) -> "MdioDataset":
        out = MdioDataset(self.path, self.store, metas if metas is not None else self._metas)
        out._ranges = dict(self._ranges)
        out._runs = {k: list(v) for k, v in self._runs.items()}
        out._pending_attrs = self._pending_attrs
        out._pending_root = self._pending_root
        return out

    def isel(self, **ranges: tuple) -> "MdioDataset":
        """Index slice: ``ds.isel(inline=(0, 100))`` half-open, optional step
        ``(start, stop, step)``. Composes with prior selections by
        intersection; applies to every variable carrying the label, no-op for
        the rest (dataset.h:423-470). Pure metadata — zero I/O."""
        out = self._copy_with()
        for dim, r in ranges.items():
            lo, hi = int(r[0]), int(r[1])
            step = int(r[2]) if len(r) > 2 else 1
            if step < 1:
                raise ValueError(f"step must be >= 1 for {dim!r}")
            if step != 1 and dim in out._runs:
                raise ValueError(
                    f"cannot compose a strided isel onto the multi-run "
                    f"selection on {dim!r}"
                )
            plo, phi, pstep = out._ranges.get(dim, (lo, hi, 1))
            if pstep != 1 and step != 1:
                raise ValueError(f"cannot compose two strided selections on {dim!r}")
            # true intersection: the surviving stride keeps ITS phase anchor,
            # so the composed start snaps forward to the next in-phase index
            # (isel(x=(0,10,2)) then isel(x=(1,10)) selects {2,4,6,8}, not a
            # re-anchored {1,3,5,7,9})
            nlo, nhi = max(lo, plo), min(hi, phi)
            if pstep != 1:
                anchor, nstep = plo, pstep
            elif step != 1:
                anchor, nstep = lo, step
            else:
                anchor, nstep = nlo, 1
            if nstep > 1 and nlo > anchor:
                nlo = anchor + -(-(nlo - anchor) // nstep) * nstep
            out._ranges[dim] = (nlo, nhi, nstep)
        return out

    def isel_multi(self, **ranges: Sequence[tuple[int, int]]) -> "MdioDataset":
        """Multiple index ranges on one dimension — the reference's
        duplicate-label slice path (Variable::slice with repeated labels →
        per-range slice + tensorstore::Concat, variable.h:1357-1396). Ranges
        must be half-open, ascending, non-overlapping; the scan unions one
        pruned sub-scan per range (same machinery as multi-run ``sel``)."""
        out = self._copy_with()
        for dim, runs in ranges.items():
            if out._ranges.get(dim, (0, 0, 1))[2] != 1:
                raise ValueError(
                    f"cannot compose isel_multi onto the strided selection "
                    f"on {dim!r} (the runs would silently drop the stride)"
                )
            norm: list[tuple[int, int]] = []
            prev = -1
            for r in runs:
                lo, hi = int(r[0]), int(r[1])
                if lo < 0 or hi < lo:
                    raise ValueError(f"bad range ({lo}, {hi}) for {dim!r}")
                if lo <= prev:
                    raise ValueError(
                        f"isel_multi ranges for {dim!r} must be ascending and "
                        "non-overlapping"
                    )
                prev = hi - 1
                if hi > lo:
                    norm.append((lo, hi))
            if dim in out._runs:
                # compose by intersection with the existing runs (both lists
                # ascending + disjoint → one merge walk)
                norm = _intersect_runs(out._runs[dim], norm)
            out._runs[dim] = norm
        return out

    # coordinate length beyond which sel's value→index translation runs as
    # a distributed aggregate instead of a driver-side array read (8M int64
    # elements ≈ 64 MiB — the reference makes the single-thread choice
    # unconditionally, dataset.h:552-629; a petascale dimension coordinate
    # must not materialize on the driver)
    _SEL_DRIVER_MAX = 8 << 20
    # distributed POINT sel collects matching indices to build runs; a
    # pathological constant-valued coordinate could match everything, so the
    # collect is probed and hard-bounded
    _SEL_POINT_HITS_MAX = 1 << 20

    def _dim_coord_meta(self, label: str) -> ZarrArrayMeta:
        meta = self._metas.get(label)
        if meta is None or meta.ndim != 1 or (meta.dims and meta.dims[0] != label):
            raise SelError(
                f"sel label {label!r} must be a 1-D dimension coordinate variable"
            )
        return meta

    def _dim_coordinate(self, label: str) -> np.ndarray:
        self._dim_coord_meta(label)
        return self.store.read_array(label)

    def _sel_spark(self, label: str):
        """Active session for DISTRIBUTED coordinate translation, or None
        for the driver-side numpy path (small coordinates / no session)."""
        if self._dim_coord_meta(label).shape[0] <= self._SEL_DRIVER_MAX:
            return None
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()

    def _range_hits_distributed(self, spark, label: str, lo_v, hi_v):
        """(lo_count, lo_index, hi_count, hi_index) via one aggregate over
        the coordinate scan — nothing coordinate-sized leaves the executors."""
        from pyspark.sql import functions as F

        from mdio_cpp_spark.sources.reader import scan_array

        df = scan_array(spark, self.path, label, value_col="__v")
        row = df.agg(
            F.count(F.when(F.col("__v") == lo_v, 1)).alias("lc"),
            F.min(F.when(F.col("__v") == lo_v, F.col(label))).alias("li"),
            F.count(F.when(F.col("__v") == hi_v, 1)).alias("hc"),
            F.min(F.when(F.col("__v") == hi_v, F.col(label))).alias("hi"),
        ).first()
        return int(row["lc"]), row["li"], int(row["hc"]), row["hi"]

    def _point_hits_distributed(self, spark, label: str, value) -> np.ndarray:
        """Sorted matching indices for a point sel, collected under a hard
        bound (run construction needs the actual index list; real dimension
        coordinates match a handful of runs — a constant coordinate that
        matches millions refuses loudly instead of flooding the driver)."""
        from pyspark.sql import functions as F

        from mdio_cpp_spark.sources.reader import scan_array

        df = scan_array(spark, self.path, label, value_col="__v")
        hits_df = df.filter(F.col("__v") == value).select(label)
        rows = hits_df.limit(self._SEL_POINT_HITS_MAX + 1).collect()
        if len(rows) > self._SEL_POINT_HITS_MAX:
            raise SelError(
                f"sel point on {label!r}: more than {self._SEL_POINT_HITS_MAX} "
                "matching indices — not a usable dimension coordinate for "
                "point selection; use a range or the relational filter path"
            )
        return np.sort(np.array([r[0] for r in rows], dtype=np.int64))

    def sel(self, **values: Any) -> "MdioDataset":
        """Value-based selection on dimension coordinates (dataset.h:552-885).

        Forms per label: scalar (point — ALL occurrences must be one
        contiguous run), (lo, hi) tuple (range — unique endpoints, stop
        inclusive), or list (membership — duplicates rejected).
        """
        out = self
        for label, v in values.items():
            spark = self._sel_spark(label)
            if isinstance(v, tuple) and len(v) == 2:
                if spark is not None:
                    lo_n, lo_i, hi_n, hi_i = self._range_hits_distributed(
                        spark, label, v[0], v[1]
                    )
                else:
                    coord = self._dim_coordinate(label)
                    lo_hits = np.flatnonzero(coord == v[0])
                    hi_hits = np.flatnonzero(coord == v[1])
                    lo_n, hi_n = len(lo_hits), len(hi_hits)
                    lo_i = int(lo_hits[0]) if lo_n else None
                    hi_i = int(hi_hits[0]) if hi_n else None
                if lo_n != 1 or hi_n != 1:
                    raise SelError(
                        f"sel range on {label!r}: start/stop must match exactly one "
                        f"coordinate value (got {lo_n}/{hi_n} matches)"
                    )
                if int(hi_i) < int(lo_i):
                    raise SelError(
                        f"sel range on {label!r}: stop value precedes start "
                        "value in coordinate order (inverted range)"
                    )
                out = out.isel(**{label: (int(lo_i), int(hi_i) + 1)})
            elif isinstance(v, (list, np.ndarray)):
                # the reference gates ListDescriptor sel as Unimplemented at
                # validation (dataset.h:675-684); same behavior here — the
                # relational isin path (operators/selection.py) covers it
                raise SelError(
                    f"sel membership list on {label!r} is unimplemented "
                    "(reference gates it, dataset.h:675-684); use sel_isin on "
                    "the relational path"
                )
            else:
                if spark is not None:
                    hits = self._point_hits_distributed(spark, label, v)
                else:
                    coord = self._dim_coordinate(label)
                    hits = np.flatnonzero(coord == v)
                if len(hits) == 0:
                    raise SelError(f"sel point on {label!r}: value {v!r} not found")
                runs = _contiguous_runs(hits)
                if len(runs) == 1:
                    out = out.isel(**{label: runs[0]})
                else:
                    # ALL occurrences kept, one range per contiguous run —
                    # the reference's per-index isel list (dataset.h:737-755);
                    # to_df unions one pruned scan per run
                    out = out._copy_with()
                    out._runs[label] = runs
        return out

    # ------------------------------------------------------------ metadata

    def update_attrs(self, var: str | None = None, **attrs: Any) -> None:
        """Stage an attribute replacement (UserAttributes swap, A6). Staged
        only — publish with commit_metadata (the reference's two-phase
        update/commit, stats.h:408-490)."""
        if var is None:
            base = dict(self._pending_root if self._pending_root is not None else self.store.attrs)
            base.update(attrs)
            self._pending_root = base
        else:
            if var not in self._metas:
                raise KeyError(f"no variable {var!r}")
            base = dict(self._pending_attrs.get(var, self._metas[var].attrs))
            base.update(attrs)
            self._pending_attrs[var] = base

    def set_stats(self, var: str, stats: dict) -> None:
        """statsV1 snapshot (schema: count/sum/sumSquares/min/max/histogram —
        stats.h:229-335)."""
        self.update_attrs(var, statsV1=stats)

    def set_units(self, var: str, units: dict) -> None:
        self.update_attrs(var, unitsV1=units)

    def commit_metadata(self) -> None:
        """Publish staged attributes + refresh consolidated metadata (IO7,
        dataset.h:1269-1416). Single-writer metadata commit."""
        for var, attrs in self._pending_attrs.items():
            self.store.update_array_attrs(var, attrs, reconsolidate=False)
        if self._pending_root is not None:
            self.store.update_root_attrs(self._pending_root)
        self.store.consolidate()
        self._pending_attrs = {}
        self._pending_root = None
        self._metas = self.store.arrays()

    # ------------------------------------------------------------ scan sugar

    def to_df(self, spark: SparkSession, var: str, fields: list[str] | None = None,
              value_col: str = "value") -> DataFrame:
        return self.var(var).to_df(spark, fields=fields, value_col=value_col)

    def select_field(self, spark: SparkSession, var: str, field: str) -> DataFrame:
        """SelectField analog (dataset.h:1131-1262): one struct field, pruned
        at decode time — no re-open dance."""
        return self.var(var).to_df(spark, fields=[field])

    def to_df_with_coords(
        self, spark: SparkSession, var: str, coords: dict[str, str],
        value_col: str = "value",
    ) -> DataFrame:
        """Scan a variable with coordinate VALUES joined on (the dataset's
        coordinate map, dataset.h:1056-1115): for each ``{dim_or_coord_var:
        alias}``, the 1-D coordinate variable's values are broadcast-joined
        onto the data scan by the shared dimension column. Coordinates are
        small by construction (1-D), so the data never shuffles — this is
        the reference's implicit dimension alignment as a broadcast
        equi-join (SURVEY §1.1)."""
        from pyspark.sql import functions as F

        out = self.to_df(spark, var, value_col=value_col)
        for cvar, alias in coords.items():
            meta = self._metas.get(cvar)
            if meta is None or meta.ndim != 1:
                raise KeyError(f"coordinate {cvar!r} must be a 1-D variable")
            dim = meta.dims[0] if meta.dims else cvar
            cdf = scan_array(spark, self.path, cvar, value_col=alias).select(dim, alias)
            out = out.join(F.broadcast(cdf), on=dim)
        return out

    def to_df_aligned(
        self, spark: SparkSession, value_cols: dict[str, str], how: str = "inner"
    ) -> DataFrame:
        """Dimension alignment of several variables (THE required join use
        per SURVEY §2.5: dataset.h:439-447 merges per-label domains).

        SAME-GRID variables (identical dims, shape, chunks — the common MDIO
        layout) FUSE into one scan: a single task decodes every variable's
        chunk at the same coords and emits wide rows, so alignment costs
        ZERO exchange (sources/reader.scan_arrays). At 100 TB the join route
        would move every cell of every variable through a shuffle; the fused
        route moves nothing. Mixed grids (subset dims, different chunking)
        fall back to the dimension join — with equal chunk grids the join
        keys arrive bucketed by chunk, and AQE picks SMJ/broadcast by size.
        ``value_cols`` maps variable → output column name; fields of struct
        variables use 'var.field'. Dense scans synthesize every cell (fill
        for absent chunks), so the fused result equals the join for every
        ``how``."""
        fused = self._try_fused_aligned(spark, value_cols)
        if fused is not None:
            return fused
        out: DataFrame | None = None
        out_dims: list[str] = []
        for var, alias in value_cols.items():
            if "." in var:
                vname, field = var.split(".", 1)
                df = self.var(vname).to_df(spark, fields=[field]).withColumnRenamed(field, alias)
                dims = list(self.var(vname).dims)
            else:
                df = self.var(var).to_df(spark, value_col=alias)
                dims = list(self.var(var).dims)
            if out is None:
                out, out_dims = df, dims
            else:
                shared = [d for d in out_dims if d in dims]
                out = out.join(df, on=shared, how=how)
                out_dims = out_dims + [d for d in dims if d not in out_dims]
        return out

    def _try_fused_aligned(
        self, spark: SparkSession, value_cols: dict[str, str]
    ) -> DataFrame | None:
        """Fused single-scan alignment when every requested variable shares
        one chunk grid; None → caller takes the join route."""
        from mdio_cpp_spark.sources.reader import fused_outputs, scan_arrays

        try:
            first = fused_outputs(self._metas.__getitem__, value_cols.items())[0][0]
        except (KeyError, ValueError):
            return None
        combos = self.var(first.name)._range_combos()
        if not combos:
            combos = [{first.dims[0]: (0, 0)}]
        dfs = [
            scan_arrays(spark, self.path, dict(value_cols), ranges=r or None)
            for r in combos
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def register_views(
        self, spark: SparkSession, prefix: str = "mdio_",
        variables: Sequence[str] | None = None,
    ) -> list[str]:
        """Register scannable variables as temp views over the
        ``format('mdio')`` DataSource — the engine's SQL surface
        (``SELECT … FROM mdio_<var> WHERE dim …`` prunes chunks through
        pushFilters). ``variables`` restricts the set (each registration
        costs a Python-worker schema round-trip, so register what you
        query). Returns the view names."""
        from mdio_cpp_spark.sources.datasource import register

        register(spark)
        names = []
        for name, meta in self._metas.items():
            if variables is not None and name not in variables:
                continue
            if meta.header_only and meta.np_dtype.kind in "OV":
                continue
            view = f"{prefix}{name}"
            (
                spark.read.format("mdio")
                .option("path", self.path).option("variable", name)
                .load()
                .createOrReplaceTempView(view)
            )
            names.append(view)
        return names


def _contiguous_runs(hits: np.ndarray) -> list[tuple[int, int]]:
    """Sorted hit indices → half-open contiguous runs."""
    if len(hits) == 0:
        return []
    splits = np.flatnonzero(np.diff(hits) > 1)
    runs = []
    start = 0
    for s in list(splits) + [len(hits) - 1]:
        runs.append((int(hits[start]), int(hits[s]) + 1))
        start = s + 1
    return runs


def _map_spec_compressor(comp: dict | None) -> dict | None:
    """Spec compressor → chunk codec; blosc keeps its cname, clevel and
    shuffle."""
    if comp is None:
        return {"id": "zlib", "level": 5}
    name = comp.get("name")
    if name == "blosc":
        # every cname the reference accepts (dataset_factory.h:288-386)
        # is honored natively by blosc1.py (pyarrow's lz4/snappy/zstd
        # kernels, stdlib zlib, pure-Python blosclz)
        # "algorithm" is the legacy MDIO-cpp key for cname
        # (resolve_blosc_cname, dataset_factory.h:237-246)
        cname = comp.get("cname", comp.get("algorithm", "lz4"))
        shuffle = comp.get("shuffle", 1)
        if isinstance(shuffle, str):  # blosc_shuffle_to_int analog (:198-210)
            shuffle = {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}.get(shuffle, 1)
        return {
            "id": "blosc",
            "cname": cname,
            "clevel": comp.get("clevel", comp.get("level", 5)),
            "shuffle": shuffle,
        }
    if name in ("zlib", "gzip"):
        return {"id": name, "level": int(comp.get("clevel", comp.get("level", 5)))}
    return {"id": "zlib", "level": 5}
