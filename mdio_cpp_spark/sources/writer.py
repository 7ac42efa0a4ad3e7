"""Spark chunk-aligned writer for Zarr arrays (IO2/IO5/IO6).

The reference's write path (Variable::Write, variable.h:1127-1134) warns that
unaligned concurrent writes are UB (USER_GUIDE "Write"); its recommended
pattern is whole-chunk-aligned writes. Spark gives us that guarantee
structurally: group rows by chunk id — ``floor(dim_i / chunk_i)`` — so each
chunk is assembled and written by EXACTLY ONE task (no write conflicts). The
shuffle carries only (dims, value) rows that actually exist; unwritten chunks
stay absent and read back as fill. A chunk that already exists on disk is
read-modify-written so a partial-coverage write preserves previously-written
cells (the reference's Variable::Write touches only the written region) —
single-writer-per-chunk makes the RMW race-free.

The read-modify-write is ``ZarrStore.rewrite_chunk``, the one chunk write of
all three writers (this one, the DSv2 ``MdioArrowWriter`` and the driver's
``write_array_numpy``): each task scatters its rows' C-order in-chunk offsets
into the C-order block it hands back. Zone stats of the rewritten chunks fold
through ``zonemap.fold_zones``, here in a distributed pass keyed by sidecar
chunk.

Scale shape: one shuffle keyed by chunk id (dominated by data size, the
theoretical minimum for a re-chunking write), then embarrassingly parallel
chunk encodes. Skewed chunk occupancy is bounded by chunk volume, so no
salting is needed — a group can never exceed prod(chunk_shape) rows.
"""

from __future__ import annotations

import json
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_cpp_spark.sources import zonemap as _zonemap
from mdio_cpp_spark.sources.zarr_store import ZarrArrayMeta, ZarrStore, chunk_zone

__all__ = ["write_array", "write_arrays", "dense_fill_frame"]


def _to_numpy_values(col: pd.Series, np_dt: np.dtype) -> np.ndarray:
    """Inverse of the reader's widenings: Spark column → storage dtype."""
    if np_dt.name == "uint64":
        import pyarrow as pa

        # vectorized decimal→uint64 (C-side Arrow cast, no per-row int())
        arr = pa.Array.from_pandas(col, type=pa.decimal128(20, 0))
        return arr.cast(pa.uint64()).to_numpy(zero_copy_only=False)
    return col.to_numpy().astype(np_dt, copy=False)


def _field_cols(meta: ZarrArrayMeta, value_cols: dict[str, str] | str) -> dict[str, str]:
    """Normalize a value_cols spec to {field_or_scalar: df column}."""
    if meta.is_struct:
        if not isinstance(value_cols, dict):
            raise ValueError("struct arrays need value_cols mapping field -> column")
        return dict(value_cols)
    if meta.np_dtype.kind == "c":
        if not isinstance(value_cols, dict) or set(value_cols) != {"re", "im"}:
            raise ValueError("complex arrays need value_cols={'re': col, 'im': col}")
        return dict(value_cols)
    return {"__scalar__": value_cols if isinstance(value_cols, str) else next(iter(value_cols.values()))}


def _scatter_into(meta: ZarrArrayMeta, block: np.ndarray, off: np.ndarray,
                  pdf: pd.DataFrame, field_cols: dict[str, str]) -> None:
    """Put ``pdf``'s values at the C-order cell offsets ``off`` of a
    C-order chunk block (``ZarrStore.rewrite_chunk``'s patch)."""
    flat = block.reshape(-1)
    if meta.is_struct:
        for fname, colname in field_cols.items():
            flat[fname][off] = _to_numpy_values(pdf[colname], meta.np_dtype.fields[fname][0])
    elif meta.np_dtype.kind == "c":
        re = pdf[field_cols["re"]].to_numpy(dtype=np.float64)
        im = pdf[field_cols["im"]].to_numpy(dtype=np.float64)
        flat[off] = (re + 1j * im).astype(meta.np_dtype)
    else:
        flat[off] = _to_numpy_values(pdf[field_cols["__scalar__"]], meta.np_dtype)


def write_array(
    df: DataFrame,
    root: str,
    var: str,
    value_cols: dict[str, str] | str = "value",
) -> dict[str, Any]:
    """Write a long-form DataFrame ``(dims..., value...)`` into an existing
    Zarr array, chunk-aligned.

    ``value_cols``: for scalar arrays a single column name; for struct arrays
    a mapping field → column name. Dimension columns must match the array's
    dimension labels. Cells absent from ``df`` keep the fill value.

    Returns a write report {chunks_written, cells_written}. The report
    aggregation is the action that drives the distributed write.
    """
    report = write_arrays(df, root, {var: value_cols})
    return {"chunks_written": report["chunks_written"], "cells_written": report["cells_written"]}


def write_arrays(
    df: DataFrame,
    root: str,
    specs: dict[str, dict[str, str] | str],
) -> dict[str, Any]:
    """Write SEVERAL variables sharing one dimension grid in ONE shuffle.

    ``specs`` maps variable name → value_cols (same forms as write_array).
    All variables must have identical dims and chunk shapes — then the chunk
    grouping key is shared, so N variables cost one chunk-keyed shuffle
    instead of N (the dominant cost of a multi-variable ingest at scale; the
    reference writes variables independently because its writes are
    node-local, variable.h:1127-1134 — on a cluster, fusing the shuffle is
    the right plan).

    Cells absent from ``df`` keep the fill; existing chunks are RMW'd.
    The write changes no metadata, so the consolidated metadata stays as
    the store's builder published it after creating arrays. Returns {chunks_written, cells_written} (chunks counted once per
    (variable, chunk) pair; cells once per input row per variable).
    """
    store = ZarrStore.open(root)
    metas = {v: store.array_meta(v) for v in specs}
    first = next(iter(metas.values()))
    dim_names = [
        first.dims[d] if d < len(first.dims) and first.dims[d] else f"dim_{d}"
        for d in range(first.ndim)
    ]
    for v, m in metas.items():
        if m.chunks != first.chunks or tuple(m.dims) != tuple(first.dims):
            raise ValueError(
                f"write_arrays needs a shared grid: {v!r} has dims={m.dims} "
                f"chunks={m.chunks}, expected dims={first.dims} chunks={first.chunks}"
            )
    for d in dim_names:
        if d not in df.columns:
            raise ValueError(f"missing dimension column {d!r}; df has {df.columns}")
    fields_by_var = {v: _field_cols(metas[v], vc) for v, vc in specs.items()}

    # shuffle payload: chunk-id keys + ONE linear in-chunk offset + all value
    # columns. Shipping the composite offset instead of N dimension columns
    # cuts the shuffle by 8(N-1) bytes/cell and turns the executor-side
    # scatter into a single flat fancy-index assignment per variable.
    ckey_cols = [f"__c{d}" for d in range(first.ndim)]
    strides = []
    acc = 1
    for c in reversed(first.chunks):
        strides.append(acc)
        acc *= int(c)
    strides = list(reversed(strides))  # C-order strides in cells
    off_expr = None
    for d, dim in enumerate(dim_names):
        term = (F.col(dim) % F.lit(int(first.chunks[d]))) * F.lit(strides[d])
        off_expr = term if off_expr is None else off_expr + term
    value_src_cols = sorted({c for fc in fields_by_var.values() for c in fc.values()})
    # a row outside the array domain must fail loudly (as in the DSv2
    # writer) instead of writing orphan chunks the scan can never plan. The guard rides the consumed __off column so Catalyst
    # cannot prune it away.
    in_domain = None
    for d, dim in enumerate(dim_names):
        cond = (F.col(dim) >= 0) & (F.col(dim) < int(first.shape[d]))
        in_domain = cond if in_domain is None else in_domain & cond
    guarded_off = F.when(in_domain, off_expr.cast("long")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"row outside array domain {tuple(first.shape)}: ("),
                F.concat_ws(", ", *[F.col(d).cast("string") for d in dim_names]),
                F.lit(")"),
            )
        )
    )
    keyed = df.select(
        guarded_off.alias("__off"),
        *[F.col(c) for c in value_src_cols],
        *[
            F.expr(f"{dim} div {int(first.chunks[d])}").alias(ckey_cols[d])
            for d, dim in enumerate(dim_names)
        ],
    )

    root_path, version = store.root, store.version
    n_cells_chunk = int(np.prod(first.chunks))
    grid = first.grid_shape()
    # zone-map coherence: the touched chunks' [min,max] is taken from the
    # blocks as written, in the SAME pass, and folded into each variable's
    # zone map (sources/zonemap.py) — a write never leaves stats that could
    # wrongly prune a later scan. Which variables are zoned is decided
    # here, on the driver
    zone_vars = [v for v, m in metas.items() if _zonemap.is_zoned(m)]

    def write_chunk_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        coords = tuple(int(k) for k in key)
        task_store = ZarrStore(root_path, version)
        off = pdf["__off"].to_numpy(dtype=np.int64)
        if len(off) and (off.min() < 0 or off.max() >= n_cells_chunk):
            raise ValueError(f"row outside chunk {coords}")
        zstats: dict[str, list[float] | None] = {}
        for var, meta in metas.items():
            block = task_store.rewrite_chunk(  # patch runs before the call returns
                meta, coords, lambda b: _scatter_into(meta, b, off, pdf, fields_by_var[var]))
            if var in zone_vars:
                zstats[var] = chunk_zone(meta, coords, block)
        return pd.DataFrame({
            "lin": [int(np.ravel_multi_index(coords, grid))],
            "chunks": [len(metas)], "cells": [len(pdf) * len(metas)],
            "zstats": [json.dumps(zstats) if zstats else ""],
        })

    totals = keyed.groupBy(*ckey_cols).applyInPandas(
        write_chunk_group, schema="lin long, chunks long, cells long, zstats string")
    if zone_vars:
        # fully distributed coherence: one tiny row per TOUCHED chunk
        # shuffles by sidecar-chunk id; each reduce task RMWs its own
        # disjoint sidecar chunks and emits partial totals — the chunk
        # writes, the sidecar fold, and the report all ride ONE action,
        # with nothing per-chunk on the driver (works at any touched count)
        def update_side(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            zones_by_var: dict[str, dict] = {v: {} for v in zone_vars}
            for lin, zs in zip(pdf["lin"], pdf["zstats"]):
                for v, z in json.loads(zs).items():
                    zones_by_var[v][int(lin)] = z
            _zonemap.fold_zones(ZarrStore(root_path, version), zones_by_var)
            return pd.DataFrame(
                {"chunks": [int(pdf["chunks"].sum())], "cells": [int(pdf["cells"].sum())]}
            )

        totals = (
            totals.groupBy(F.expr(f"lin div {_zonemap.SIDECAR_CHUNK}"))
            .applyInPandas(update_side, "chunks long, cells long")
        )
    row = totals.agg(F.sum("chunks").alias("chunks"), F.sum("cells").alias("cells")).collect()[0]
    return {"chunks_written": row["chunks"] or 0, "cells_written": row["cells"] or 0}


def dense_fill_frame(
    spark: SparkSession,
    shape: tuple[int, ...] | list[int],
    dims: list[str],
    fill: Any,
    value_col: str = "value",
    value_type: str = "double",
) -> DataFrame:
    """``from_variable`` analog (variable.h:1954-1995): a dense, fill-value-
    initialized logical grid — ``spark.range`` over the linearized domain,
    unraveled to dimension columns, constant fill column. Lazy and fully
    distributed; nothing materializes until an action."""
    n = int(np.prod(shape))
    df = spark.range(n)
    cols = []
    stride = n
    for d, dim in enumerate(dims):
        stride //= int(shape[d])
        # integer div/mod keeps the arithmetic exact past 2^53 (no doubles)
        cols.append(F.expr(f"(id div {stride}) % {int(shape[d])}").alias(dim))
    return df.select(*cols, F.lit(fill).cast(value_type).alias(value_col))
