"""Rechunk: copy a stored array onto a new chunk grid.

The reference fixes each variable's chunk grid at creation
(``chunkGrid`` → reference ``mdio/dataset_factory.h:558-566``) — changing
the grid to match a new access pattern (e.g. inline-oriented → crossline-
oriented reads) means exactly this copy. Layout migration is a first-class
operation for any array store serving mixed workloads.

Distributed shape, designed for the 100 TB case:
scan (chunk-pruned, tasks sized by ``reader.task_count``, no driver manifest)
→ ONE shuffle keyed on the DESTINATION chunk id (inside write_array)
→ independent single-writer chunk encodes.
Nothing ever materializes on the driver; wall-clock scales with
max(src_chunks, dst_chunks) / cores, and skew is structurally bounded by
the destination chunk volume.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession

from mdio_cpp_spark.sources.reader import scan_array
from mdio_cpp_spark.sources.writer import write_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.sources.zonemap import without_zones


def rechunk_array(
    spark: SparkSession,
    src_root: str,
    var: str,
    dst_root: str,
    new_chunks: tuple[int, ...] | list[int],
    dst_var: str | None = None,
    compressor: dict | None = None,
) -> dict[str, Any]:
    """Copy ``src_root/var`` into ``dst_root/dst_var`` with ``new_chunks``.

    Destination keeps the source's shape, dtype, dims, attrs (less the
    zone-map marker: the sidecar stays with the source), and fill; the
    compressor may be swapped (rechunk + recompress in one pass).
    Returns the write report {chunks_written, cells_written}.
    """
    src = ZarrStore.open(src_root)
    meta = src.array_meta(var)
    dst_var = dst_var or var
    if len(tuple(new_chunks)) != meta.ndim:
        raise ValueError(f"new_chunks rank {len(tuple(new_chunks))} != array rank {meta.ndim}")

    if os.path.exists(dst_root):
        dst = ZarrStore.open(dst_root)
    else:
        dst = ZarrStore.create(dst_root, version=src.version)
    if dst_var not in dst.arrays():
        if meta.mdio_type is not None:
            dtype: Any = meta.mdio_type
        elif meta.is_struct:
            dtype = meta.np_dtype
        else:
            dtype = meta.np_dtype
        dst.create_array(
            dst_var,
            shape=meta.shape,
            chunks=tuple(int(c) for c in new_chunks),
            dtype=dtype,
            dims=meta.dims,
            attrs=without_zones(meta.attrs),
            compressor=compressor if compressor is not None else meta.compressor,
            fill=meta.fill,
        )
        dst.consolidate()

    if meta.is_struct:
        fields = list(meta.np_dtype.names)
        df = scan_array(spark, src_root, var, fields=fields)
        value_cols: dict[str, str] | str = {f: f for f in fields}
    else:
        df = scan_array(spark, src_root, var, value_col="v")
        value_cols = "v"
    return write_array(df, dst_root, dst_var, value_cols=value_cols)
