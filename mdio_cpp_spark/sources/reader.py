"""The chunk-scan core, and its mapInPandas front end (scan_array, scan_arrays).

The Dataset::Open → isel → Read() pipeline (reference dataset.h:941-1118,
variable.h:1079-1103) re-expressed for Spark's execution model. Every Spark
read path — ``scan_array``/``scan_arrays`` here, ``format("mdio")`` batch,
fused and stream reads (sources/datasource.py), and
``zonemap.pruning_report`` — runs the same pieces:

  * ALL metadata I/O happens once on the driver (consolidated .zmetadata /
    zarr.json walk — zarr_v2.h:467-482).
  * **Chunk pruning** (SURVEY §4 — "THE key custom piece"): ``plan_grid``
    intersects the clamped per-dimension box (and any per-dim member lists)
    with the chunk grid, so a ``sel``/``isel`` predicate never touches
    non-overlapping chunks — the Zarr analog of parquet partition pruning.
    Value predicates prune further on zone maps (sources/zonemap.py):
    ``zone_keeper`` judges a chunk, ``driver_survivors`` enumerates the
    surviving linear ids on the driver when the grid is small enough.
  * The chunk manifest is never materialized on the driver: work is a list
    of linear ids within the pruned grid (a ``spark.range`` here, id ranges
    in DSv2 partitions) and each task unravels its ids with ``chunk_coords``.
    At 100 TB (~12M chunks of 8 MiB) the manifest stays a lazy range.
    ``task_count`` sizes the task list, by decoded bytes per task, for every
    front end and every other Spark job over chunks, shards or traces.
  * Executors run ``decode_frames``: chunks fetch and decode concurrently
    on ``zarr_store.map_chunks``, the bounded in-order pool the driver's
    ``read_array`` and ``write_array_numpy`` also use (sharded arrays by
    partial shard read); each chunk becomes one long-form frame for 1..N
    variables on the grid (``chunk_frame``), and row masks (value
    predicates, dim member lists) apply in numpy before the Arrow boundary.
    Absent chunks synthesize the fill value (dataset_factory.h:500-545
    semantics) without reading anything.
  * Output is long/tidy form: one row per cell, dimension-index columns
    (int64) + value column(s). Struct dtypes emit one column per (selected)
    field — nested-field pruning happens at decode time, replacing the
    reference's re-open dance (dataset.h:1131-1262).
"""

from __future__ import annotations

import math
from typing import Any, Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mdio_cpp_spark.schema.types import SCALAR_TYPES
from mdio_cpp_spark.sources import zonemap as _zonemap
from mdio_cpp_spark.sources.zarr_store import (
    _PREFETCH_DEPTH,
    ZarrArrayMeta,
    ZarrStore,
    _clamped_box,
    chunk_ranges,
    map_chunks,
)

__all__ = ["scan_array", "scan_arrays", "plan_chunks", "scan_schema"]

# widenings applied on decode so Spark sees a supported type (SURVEY §1.2)
_NUMPY_TO_SPARK_CAST = {
    "float16": ("float32", T.FloatType()),
    "uint8": ("int16", T.ShortType()),
    "uint16": ("int32", T.IntegerType()),
    "uint32": ("int64", T.LongType()),
}


def _scalar_spark_type(np_dt: np.dtype) -> T.DataType:
    if np_dt.name in _NUMPY_TO_SPARK_CAST:
        return _NUMPY_TO_SPARK_CAST[np_dt.name][1]
    if np_dt.name == "uint64":
        return T.DecimalType(20, 0)
    if np_dt.name in SCALAR_TYPES:
        return SCALAR_TYPES[np_dt.name].spark
    if np_dt.kind == "U" or np_dt.kind == "S":
        return T.StringType()
    if np_dt.kind == "M":
        return T.TimestampType()
    raise TypeError(f"unsupported dtype {np_dt}")


def _convert_values(vals: np.ndarray) -> Any:
    """numpy → pandas column with the Spark-facing type. Everything here is
    vectorized — no per-cell Python loop in the scan hot path."""
    name = vals.dtype.name
    if name in _NUMPY_TO_SPARK_CAST:
        return vals.astype(_NUMPY_TO_SPARK_CAST[name][0])
    if name == "uint64":
        # uint64 → Decimal(20,0): one C-side Arrow cast, kept Arrow-backed so
        # the pandas→Arrow hop at the mapInPandas boundary is zero-copy
        import pyarrow as pa

        arrow = pa.array(vals).cast(pa.decimal128(20, 0))
        return pd.Series(arrow, dtype=pd.ArrowDtype(pa.decimal128(20, 0)))
    if vals.dtype.kind == "S":
        # vectorized bytes→str decode (C loop in numpy, not Python)
        return pd.Series(np.char.decode(vals, "utf-8", "replace").astype(object))
    if vals.dtype.kind == "U":
        return pd.Series(vals.astype(object))
    if vals.dtype.kind == "M":
        return pd.Series(vals.astype("datetime64[us]"))
    return vals


def _dim_names(meta: ZarrArrayMeta) -> list[str]:
    return [meta.dims[d] if d < len(meta.dims) and meta.dims[d] else f"dim_{d}" for d in range(meta.ndim)]


# A scan's OUTPUTS: [(meta, picks)], one entry per emitted variable, all on
# one chunk grid. picks = ((field | None, column), ...): a struct field or
# the whole scalar value, and the output column it lands in (a complex value
# lands in <column>_re / <column>_im).
Outputs = Sequence[tuple[ZarrArrayMeta, tuple[tuple[str | None, str], ...]]]


def _picks(meta: ZarrArrayMeta, fields: list[str] | None, value_col: str) -> tuple:
    if meta.is_struct:
        return tuple((f, f) for f in fields or meta.np_dtype.names)
    return ((None, value_col),)


def frame_schema(dim_names: list[str], outputs: Outputs) -> T.StructType:
    """Spark schema of the long-form frames ``chunk_frame`` builds."""
    out = [T.StructField(d, T.LongType(), False) for d in dim_names]
    for meta, picks in outputs:
        for field, col in picks:
            dt = meta.np_dtype.fields[field][0] if field else meta.np_dtype
            if dt.kind == "c":
                base = T.FloatType() if dt.itemsize == 8 else T.DoubleType()
                out += [T.StructField(f"{col}_re", base, True), T.StructField(f"{col}_im", base, True)]
            else:
                out.append(T.StructField(col, _scalar_spark_type(dt), True))
    return T.StructType(out)


def scan_schema(meta: ZarrArrayMeta, fields: list[str] | None = None, value_col: str = "value") -> T.StructType:
    """Spark schema of the long-form scan output."""
    return frame_schema(_dim_names(meta), [(meta, _picks(meta, fields, value_col))])


def fused_outputs(
    lookup: Callable[[str], ZarrArrayMeta], entries: Iterable[tuple[str, str]]
) -> list:
    """Outputs of a FUSED aligned scan from ``(key, column)`` entries, key
    'var' or 'var.field'; ``lookup`` maps a variable name to its meta.

    Raises ValueError (KeyError for an unknown variable or field) unless
    there is at least one entry, no entry is empty, no variable is complex
    (two output columns — use to_df/join), a struct variable is named
    through one field, and every variable shares dims, shape and chunks."""
    entries = list(entries)
    if not entries:
        raise ValueError("a fused scan needs at least one variable")
    outputs = []
    for pos, (key, col) in enumerate(entries):
        vname, dot, field = key.partition(".")
        if not vname or (dot and not field):
            raise ValueError(
                f"fused-scan entry {pos} of {[k for k, _ in entries]} names "
                f"no variable or field: {key!r}"
            )
        meta = lookup(vname)
        if meta.np_dtype.kind == "c":
            raise ValueError(f"complex variable {vname!r} is not fusable; use to_df")
        if field and field not in (meta.np_dtype.names or ()):
            raise KeyError(f"no field {field!r} in variable {vname!r}")
        if not field and meta.is_struct:
            raise ValueError(
                f"struct variable {vname!r} needs an explicit field ('{vname}.<field>')"
            )
        outputs.append((meta, ((field or None, col),)))
    first = outputs[0][0]
    for meta, _ in outputs[1:]:
        if (meta.shape, meta.chunks, tuple(meta.dims)) != (first.shape, first.chunks, tuple(first.dims)):
            raise ValueError(
                f"fused variables must share one grid: {meta.name!r} has "
                f"shape={meta.shape} chunks={meta.chunks} dims={meta.dims}, "
                f"expected {first.shape}/{first.chunks}/{first.dims}"
            )
    return outputs


# ------------------------------------------------------------------ planning


def _normalize_ranges(
    meta: ZarrArrayMeta, ranges: dict[str, tuple] | None
) -> tuple[tuple[tuple[int, int], ...], tuple[int, ...]]:
    """→ (clamped half-open box, per-dim step)."""
    box2: dict[str, tuple[int, int]] = {}
    steps: dict[str, int] = {}
    for k, v in (ranges or {}).items():
        lo, hi, st = v if len(v) == 3 else (*v, 1)
        if st < 1:
            raise ValueError(f"step must be >= 1 for {k!r}")
        box2[k] = (lo, hi)
        steps[k] = int(st)
    return _clamped_box(meta, box2), tuple(steps.get(n, 1) for n in _dim_names(meta))


def plan_grid(
    meta: ZarrArrayMeta,
    box: tuple[tuple[int, int], ...],
    members: dict[int, Sequence[int]] | None = None,
) -> list[Sequence[int]]:
    """The pruned chunk grid of a clamped box: per dim, the indices of the
    chunks the box overlaps. A dim in ``members`` (dim index → selected
    cell indices, e.g. a pushed IN-list) keeps only chunks holding a member
    inside the box — bounded by the list's length, never the grid's. An
    empty selection has an empty dim."""
    per_dim: list[Sequence[int]] = chunk_ranges(meta, box)
    for d, vals in (members or {}).items():
        lo, hi = box[d]
        per_dim[d] = tuple(sorted({v // meta.chunks[d] for v in vals if lo <= v < hi}))
    return per_dim


def grid_size(per_dim: Sequence[Sequence[int]]) -> int:
    return math.prod(len(r) for r in per_dim) if per_dim else 0


def chunk_coords(linear: int, per_dim: Sequence[Sequence[int]]) -> tuple[int, ...]:
    """Linear id (C order within the pruned grid) → chunk coordinates."""
    rel = []
    for idx in reversed(per_dim):
        linear, r = divmod(linear, len(idx))
        rel.append(idx[r])
    return tuple(reversed(rel))


def plan_chunks(
    meta: ZarrArrayMeta, ranges: dict[str, tuple] | None = None
) -> tuple[list[range], int]:
    """Pruned chunk grid: per-dim chunk-index ranges + total pruned count.
    Pure driver-side planning — this is what the pruning tests assert on."""
    per_dim = plan_grid(meta, _normalize_ranges(meta, ranges)[0])
    return per_dim, grid_size(per_dim)


def cluster_parallelism(spark: SparkSession | None = None) -> int:
    """Default parallelism of ``spark``, else of the active session, else 1."""
    spark = spark or SparkSession.getActiveSession()
    return max(1, spark.sparkContext.defaultParallelism) if spark else 1


# decoded (or read) bytes one Spark task of a chunk, shard or trace job
# works through: the role spark.sql.files.maxPartitionBytes plays for files
TASK_BYTES = 32 << 20

# bytes below which a job is not split further to fill the cores, the role
# spark.sql.files.openCostInBytes plays: on local[4] a 1 MiB chunk or trace
# scan ran faster as one task than as four, a 4 MiB one as fast or faster
MIN_TASK_BYTES = 1 << 20


def task_count(n_units: int, unit_bytes: int, par: int) -> int:
    """Tasks for a job over ``n_units`` chunks, shards or traces of
    ``unit_bytes`` each, split as Spark splits files: ~``TASK_BYTES`` each,
    spread over every core while each keeps ``MIN_TASK_BYTES``, never more
    tasks than units, and at most 64 per core — a petascale array (~12M
    chunks) must not become millions of scheduler tasks, and the cap scales
    with the cluster, so a 1000-executor cluster still fans out."""
    total = n_units * unit_bytes
    split = min(TASK_BYTES, max(MIN_TASK_BYTES, -(-total // par)))
    return min(max(1, -(-total // split)), n_units, 64 * par)


def task_spans(n_units: int, unit_bytes: int, par: int) -> list[tuple[int, int]]:
    """``task_count``'s tasks as even half-open spans of ``range(n_units)``."""
    k = task_count(n_units, unit_bytes, par)
    return [(i * n_units // k, (i + 1) * n_units // k) for i in range(k)]


def chunk_bytes(metas: Iterable[ZarrArrayMeta]) -> int:
    """Decoded bytes of one chunk (a shard, if sharded) of every distinct
    array in ``metas``: the unit a chunk job passes to ``task_count``."""
    return sum(math.prod(m.chunks) * m.np_dtype.itemsize for m in {m.name: m for m in metas}.values())


# ------------------------------------------------------------------- execute

# value predicates pushable into the decoder: op name → numpy comparator
_VALUE_OPS = {
    ">=": lambda v, x: v >= x,
    ">": lambda v, x: v > x,
    "<=": lambda v, x: v <= x,
    "<": lambda v, x: v < x,
    "==": lambda v, x: v == x,
    "!=": lambda v, x: v != x,
}


def value_mask(v: np.ndarray, op: str, lit: Any) -> np.ndarray:
    """Rows of ``v`` satisfying ``op lit``: the comparisons in _VALUE_OPS,
    "in" (tuple literal), "isnull"/"notnull". NaN cells surface as SQL NULL
    at the Arrow boundary (engine convention), and NULL satisfies no
    comparison — exactly numpy's False for every NaN comparison (and
    isin's), so these numpy semantics ARE a consumed predicate's."""
    if op == "in":
        return np.isin(v, lit)
    if op in ("isnull", "notnull"):
        nan = np.isnan(v) if v.dtype.kind == "f" else np.zeros(len(v), bool)
        return nan if op == "isnull" else ~nan
    return np.asarray(_VALUE_OPS[op](v, lit), dtype=bool)


def chunk_frame(
    coords: tuple[int, ...],
    box: tuple[tuple[int, int], ...],
    steps: tuple[int, ...],
    dim_names: list[str],
    outputs: Outputs,
    blocks: dict[str, np.ndarray | None],
) -> pd.DataFrame:
    """One chunk's long-form frame, fully vectorized: per-dim global index
    arrays → meshgrid → ravel, built once however many variables the frame
    carries; each variable's cells come from its decoded block, or its fill
    value when the chunk is absent (no I/O)."""
    m0 = outputs[0][0]
    origin = tuple(c * s for c, s in zip(coords, m0.chunks))
    gsel: list[np.ndarray] = []
    lsel: list[np.ndarray] = []
    for d in range(m0.ndim):
        lo = max(box[d][0], origin[d])
        hi = min(box[d][1], origin[d] + m0.chunks[d], m0.shape[d])
        g = np.arange(lo, hi, dtype=np.int64)
        if steps[d] > 1:
            g = g[(g - box[d][0]) % steps[d] == 0]
        gsel.append(g)
        lsel.append(g - origin[d])
    n = math.prod(len(g) for g in gsel)
    mesh = np.meshgrid(*gsel, indexing="ij") if m0.ndim > 1 else gsel
    cols: dict[str, Any] = {name: m.ravel() for name, m in zip(dim_names, mesh)}
    cells: dict[str, np.ndarray] = {}
    for meta, picks in outputs:
        if meta.name not in cells:
            block = blocks[meta.name]
            cells[meta.name] = (
                np.full(n, meta.fill_scalar(), dtype=meta.np_dtype) if block is None
                else block[np.ix_(*lsel)].ravel() if meta.ndim > 1
                else block[lsel[0]]
            )
        for field, col in picks:
            vals = cells[meta.name]
            if field is not None:
                vals = np.ascontiguousarray(vals[field])
            if vals.dtype.kind == "c":
                cols[f"{col}_re"], cols[f"{col}_im"] = np.real(vals), np.imag(vals)
            else:
                cols[col] = _convert_values(vals)
    return pd.DataFrame(cols)


def _fetch_blocks(
    store: ZarrStore,
    metas: list[ZarrArrayMeta],
    box: tuple[tuple[int, int], ...],
    coords_iter: Iterable[tuple[int, ...]],
) -> Iterator[tuple[tuple[int, ...], dict[str, np.ndarray | None]]]:
    """(coords, {variable: decoded block, None if absent}) per chunk, in
    input order. A chunk whose blocks are all cached is served on the
    calling thread; the others fetch and decode on ``map_chunks``' pool,
    where GET round-trips and the zlib/gzip decoders overlap. Each chunk in
    flight holds one block per variable, so a fused scan of N variables
    keeps ``max(1, _PREFETCH_DEPTH // N)`` chunks in flight: about
    ``_PREFETCH_DEPTH`` blocks per task whatever N is. Sharded arrays fetch
    by box-aware PARTIAL shard read (index + touched inner chunks via range
    reads)."""
    return map_chunks(
        lambda c: {m.name: store.decode_chunk_box(m, c, box) for m in metas},
        coords_iter,
        max(1, _PREFETCH_DEPTH // len(metas)),
        inline=lambda c: all(store.is_cached(m, c, box) for m in metas),
    )


def decode_frames(
    store: ZarrStore,
    outputs: Outputs,
    box: tuple[tuple[int, int], ...],
    steps: tuple[int, ...],
    coords: Iterable[tuple[int, ...]],
    keep: Callable[[tuple[int, ...]], bool] | None = None,
    value_col: str | None = None,
    value_filters: Sequence[tuple[str, Any]] = (),
    dim_in: dict[str, Sequence[int]] | None = None,
) -> Iterator[pd.DataFrame]:
    """The executor half of every scan: the non-empty long-form frames of
    the chunks at ``coords``. ``keep`` is the executor-tier zone skip (no
    GET, no decompress, no decode for a rejected chunk); ``value_filters``
    mask the ``value_col`` cells and ``dim_in`` (dim → member indices) the
    rows, in numpy before the Arrow boundary."""
    metas = list({m.name: m for m, _ in outputs}.values())
    dim_names = _dim_names(metas[0])
    if keep is not None:
        coords = (c for c in coords if keep(c))
    for c, blocks in _fetch_blocks(store, metas, box, coords):
        pdf = chunk_frame(c, box, steps, dim_names, outputs, blocks)
        if len(pdf) and (value_filters or dim_in):
            mask = np.ones(len(pdf), bool)
            for dim, members in (dim_in or {}).items():
                mask &= np.isin(pdf[dim].to_numpy(), members)
            for op, lit in value_filters:
                mask &= value_mask(pdf[value_col].to_numpy(), op, lit)
            pdf = pdf[mask]
        if len(pdf):
            yield pdf


# ------------------------------------------------------------- front end


def _scan(
    spark: SparkSession,
    store: ZarrStore,
    outputs: Outputs,
    box: tuple[tuple[int, int], ...],
    steps: tuple[int, ...],
    value_col: str | None = None,
    value_filters: Sequence[tuple[str, Any]] = (),
) -> DataFrame:
    """Plan on the driver, decode in ``spark.range(n).mapInPandas`` tasks.
    With zone-map survivors enumerated on the driver, the ids ride the task
    closure; otherwise each task applies the zone keeper itself."""
    meta = outputs[0][0]
    schema = frame_schema(_dim_names(meta), outputs)
    per_dim = plan_grid(meta, box)
    keep = _zonemap.zone_keeper(meta, store.root, value_filters)
    ids = _zonemap.driver_survivors(per_dim, keep)
    n = grid_size(per_dim) if ids is None else len(ids)
    root, version = store.root, store.version
    task_keep = keep if ids is None else None

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        coords = (
            chunk_coords(int(i) if ids is None else ids[i], per_dim)
            for pdf in batches for i in pdf["id"].to_numpy()
        )
        yield from decode_frames(
            ZarrStore(root, version), outputs, box, steps, coords,
            task_keep, value_col, value_filters,
        )

    unit = chunk_bytes(m for m, _ in outputs)
    return spark.range(
        0, n, numPartitions=task_count(n, unit, cluster_parallelism(spark))
    ).mapInPandas(decode, schema=schema)


def scan_array(
    spark: SparkSession,
    root: str,
    var: str,
    ranges: dict[str, tuple] | None = None,
    fields: list[str] | None = None,
    value_col: str = "value",
    value_filter: tuple[str, Any] | None = None,
) -> DataFrame:
    """Scan one Zarr array into a long-form DataFrame with chunk pruning.

    ``ranges`` maps dimension label → (start, stop[, step]) half-open index
    ranges (isel semantics, dataset.h:423-546; stride per variable.h:1348).
    ``fields`` selects struct-dtype fields (SelectField analog).
    ``value_filter`` = (op, literal) with op in >=,>,<=,<,==,!= — applied to
    the VALUE inside the decoder (numpy, before the Arrow boundary), so
    non-matching cells never ship to the JVM. The Catalyst analog of filter
    pushdown, extended past the Python worker; with zone maps, incompatible
    chunks are skipped before any byte read, and a whole-chunk skip falls
    out for fill-only chunks whose fill fails the predicate.
    """
    store = ZarrStore.open(root)
    meta = store.array_meta(var)
    if meta.header_only and meta.np_dtype.fields is None and meta.np_dtype.kind in "OV":
        raise TypeError(f"array {var!r} is metadata-only (dtype {meta.np_dtype})")
    if value_filter is not None:
        if meta.is_struct or meta.np_dtype.kind == "c":
            raise ValueError("value_filter applies to scalar arrays only")
        if value_filter[0] not in _VALUE_OPS:
            raise ValueError(f"unsupported value_filter op {value_filter[0]!r}")
    box, steps = _normalize_ranges(meta, ranges)
    return _scan(
        spark, store, [(meta, _picks(meta, fields, value_col))], box, steps,
        value_col, [value_filter] if value_filter else (),
    )


def scan_arrays(
    spark: SparkSession,
    root: str,
    specs: dict[str, str],
    ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """FUSED aligned scan: decode N variables sharing one chunk grid in a
    single pass — one task reads every variable's chunk at the same coords
    and emits wide rows (dims…, col-per-variable).

    This is the shuffle-free form of the dimension-alignment join
    (dataset.h:439-447): ``to_df_aligned``'s join route moves every cell of
    every variable through a join exchange, which at 100 TB is the dominant
    cost; same-grid variables need NO exchange at all — alignment is a
    per-chunk array index, so the join collapses into the scan. Different
    grids (subset dims, different chunking) still take the join route.

    ``specs`` maps 'var' or 'var.field' (struct field) → output column name;
    ``fused_outputs`` states what is fusable.
    """
    store = ZarrStore.open(root)
    outputs = fused_outputs(store.array_meta, specs.items())
    box, steps = _normalize_ranges(outputs[0][0], ranges)
    return _scan(spark, store, outputs, box, steps)
