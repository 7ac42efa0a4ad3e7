"""Distributed store transcode: copy an array into a new store under a
different chunk codec — the codec-migration primitive (e.g. a blosc-zlib
store from the reference's writer re-encoded to plain zlib/gzip, or vice
versa).

Scale design: the chunk grid is IDENTICAL on both sides, so the copy is
embarrassingly parallel — one lazy ``spark.range`` over chunk ids, each
task decode→re-encode→writes the same coordinates in the destination.
ZERO shuffle, zero driver materialization: at 100 TB this is pure
bandwidth, the plan you want for a fleet-wide codec migration. Fill-only
(absent) chunks are skipped — sparsity survives the copy for free.

The reference has no transcode (codec is fixed at dataset creation,
dataset_factory.h:295-346); migrating means a full app-side rewrite.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from mdio_cpp_spark.sources.reader import chunk_bytes, cluster_parallelism, task_count
from mdio_cpp_spark.sources.zarr_store import ZarrArrayMeta, ZarrStore
from mdio_cpp_spark.sources.zonemap import without_zones


def _block_is_fill(block: np.ndarray, fill) -> bool:
    """True when every cell equals the fill. NaN-aware value compare
    first; dtypes where comparison raises (exotic structs, objects) fall
    back to a BYTES-level check against one materialized fill element —
    so sparse struct arrays keep eliding instead of writing every shard."""
    try:
        if block.dtype.kind == "f" and isinstance(fill, (float, np.floating)) \
                and np.isnan(fill):
            return bool(np.isnan(block).all())
        return bool((block == fill).all())
    except (TypeError, ValueError):
        pass
    try:
        fb = np.full(1, fill, dtype=block.dtype).tobytes()
    except (TypeError, ValueError):
        return False  # un-materializable fill: write unconditionally
    return np.ascontiguousarray(block).tobytes() == fb * block.size


def _prepare_existing_destination(
    dst: ZarrStore, var: str, want_shape, want_chunks, want_dtype,
    want_shard_of,
) -> ZarrArrayMeta:
    """Validate a PRE-EXISTING destination array against the requested
    layout and strip its zone-map marker.

    A silently-reused destination ignored the caller's layout, and chunk
    stats written by a prior population would go stale (write_chunk
    bypasses zone-map maintenance) and could wrongly prune later scans.
    Mismatched layouts raise; matching ones get their zone-map marker
    dropped (rebuild with zonemap.ensure_chunk_stats after the migration if
    wanted)."""
    dmeta = dst.array_meta(var)
    if tuple(dmeta.shape) != tuple(want_shape):
        raise ValueError(
            f"destination {var!r} exists with shape {tuple(dmeta.shape)}, "
            f"requested {tuple(want_shape)}")
    if tuple(dmeta.chunks) != tuple(want_chunks):
        raise ValueError(
            f"destination {var!r} exists with chunk/shard shape "
            f"{tuple(dmeta.chunks)}, requested {tuple(want_chunks)}")
    if dmeta.np_dtype != want_dtype:
        raise ValueError(
            f"destination {var!r} exists with dtype {dmeta.np_dtype}, "
            f"requested {want_dtype}")
    if want_shard_of is not None:
        if dmeta.shard is None:
            raise ValueError(f"destination {var!r} exists unsharded; "
                             f"reshard requested inner chunks {want_shard_of}")
        have_inner = tuple(dmeta.shard["chunk_shape"])
        if have_inner != tuple(want_shard_of):
            raise ValueError(
                f"destination {var!r} exists with inner chunks {have_inner}, "
                f"requested {tuple(want_shard_of)}")
    elif dmeta.shard is not None:
        raise ValueError(f"destination {var!r} exists SHARDED; transcode "
                         f"writes a plain chunk grid")
    attrs = without_zones(dmeta.attrs)
    if attrs != dmeta.attrs:
        dst.update_array_attrs(var, attrs)
        dmeta = dst.array_meta(var)
    return dmeta


def transcode_array(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    var: str,
    compressor: dict | None,
) -> dict:
    """Copy ``var`` from ``src_root`` into ``dst_root`` re-encoded with
    ``compressor`` (v2 compressor JSON; None = raw). The destination store
    is created if absent; the array is declared with the source's shape /
    chunks / dtype / dims / fill / attrs, less the zone-map marker (the
    sidecar stays with the source). Returns
    {chunks_total, chunks_copied} — the difference is fill-only chunks
    that cost nothing on either side."""
    src = ZarrStore.open(src_root)
    meta = src.array_meta(var)
    try:
        dst = ZarrStore.open(dst_root)
    except FileNotFoundError:
        dst = ZarrStore.create(dst_root, version=2, attrs=dict(src.attrs))
    if var not in dst.arrays():
        dst.create_array(
            var, shape=meta.shape, chunks=meta.chunks, dtype=meta.np_dtype,
            dims=meta.dims, attrs=without_zones(meta.attrs), compressor=compressor,
            fill=meta.fill,
        )
        dst.consolidate()
    else:
        _prepare_existing_destination(
            dst, var, meta.shape, meta.chunks, meta.np_dtype, None)

    n = meta.nchunks()
    grid = meta.grid_shape()
    src_path, src_ver = src.root, src.version
    dst_path, dst_ver = dst.root, dst.version

    def copy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = ZarrStore(src_path, src_ver)
        d = ZarrStore(dst_path, dst_ver)
        sm = s.array_meta(var)
        dm = d.array_meta(var)
        for pdf in batches:
            copied = 0
            for linear in pdf["id"].to_numpy():
                coords = tuple(int(c) for c in np.unravel_index(int(linear), grid))
                block = s.decode_chunk(sm, coords)
                if block is None:
                    # fill-only: sparsity survives for free — but a stale
                    # object from a prior population must not shadow it
                    d._kv.delete(dm.chunk_key(coords))
                    continue
                d.write_chunk(dm, coords, block)
                copied += 1
            yield pd.DataFrame({"n": [len(pdf)], "copied": [copied]})

    row = (
        spark.range(n, numPartitions=task_count(n, chunk_bytes([meta]), cluster_parallelism(spark)))
        .mapInPandas(copy, "n long, copied long")
        .groupBy()
        .sum("n", "copied")
        .collect()[0]
    )
    return {"chunks_total": int(row[0] or 0), "chunks_copied": int(row[1] or 0)}


def reshard_array(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    var: str,
    shards: tuple[int, ...],
    inner_chunks: tuple[int, ...] | None = None,
    compressor: dict | None = None,
) -> dict:
    """Migrate ``var`` into a ZEP-2 SHARDED v3 layout — the move a legacy
    store makes to become object-store friendly (millions of tiny chunk
    objects → thousands of shard objects, each holding an indexed grid of
    inner chunks; zarr109's layout).

    Scale design: partition over DESTINATION shard ids — each task reads
    exactly the source region its shard covers (chunk-pruned
    ``read_array`` box; absent source chunks synthesize fill for free),
    encodes the shard's inner chunks through ``compressor``, and writes
    ONE object. ZERO shuffle, no driver materialization beyond scalars; a
    source chunk straddling a shard boundary is decoded once per touching
    shard — bounded by the neighbor count, never by data size. All-fill
    shards are elided entirely (the destination synthesizes fill), and
    all-fill INNER chunks inside a written shard cost index-only bytes
    (MISSING entries), so sparsity survives the migration. The source
    zone-map marker is dropped — the sidecar indexes the OLD chunk grid;
    rebuild with zonemap.ensure_chunk_stats if pruning is wanted on the
    new grid.

    ``inner_chunks`` defaults to the source chunk shape (so existing read
    patterns keep their granularity); ``shards`` must be an element-wise
    multiple of it. Returns {shards_total, shards_written}."""
    src = ZarrStore.open(src_root)
    meta = src.array_meta(var)
    inner = tuple(int(x) for x in (inner_chunks or meta.chunks))
    shards = tuple(int(x) for x in shards)
    try:
        dst = ZarrStore.open(dst_root)
    except FileNotFoundError:
        dst = ZarrStore.create(dst_root, version=3, attrs=dict(src.attrs))
    if var not in dst.arrays():
        dst.create_array(
            var, shape=meta.shape, chunks=inner, shards=shards,
            dtype=meta.np_dtype, dims=meta.dims, attrs=without_zones(meta.attrs),
            compressor=compressor, fill=meta.fill,
        )
        dmeta = dst.array_meta(var)  # dmeta.chunks == shard shape
    else:
        dmeta = _prepare_existing_destination(
            dst, var, meta.shape, shards, meta.np_dtype, inner)
    n = dmeta.nchunks()
    grid = dmeta.grid_shape()
    dims = meta.dims or tuple(f"dim_{d}" for d in range(meta.ndim))
    src_path, src_ver = src.root, src.version
    dst_path, dst_ver = dst.root, dst.version
    shape = tuple(meta.shape)

    def copy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = ZarrStore(src_path, src_ver)
        d = ZarrStore(dst_path, dst_ver)
        dm = d.array_meta(var)
        fill = dm.fill_scalar()
        for pdf in batches:
            written = 0
            for linear in pdf["id"].to_numpy():
                coords = tuple(int(c) for c in np.unravel_index(int(linear), grid))
                lo = tuple(c * sh for c, sh in zip(coords, dm.chunks))
                hi = tuple(min(l + sh, sz) for l, sh, sz in zip(lo, dm.chunks, shape))
                region = s.read_array(var, ranges={
                    dims[k]: (lo[k], hi[k]) for k in range(len(dims))
                })
                block = np.full(dm.chunks, fill, dtype=dm.np_dtype)
                block[tuple(slice(0, h - l) for l, h in zip(lo, hi))] = region
                if _block_is_fill(block, fill):
                    # all-fill shard: elide the object entirely (bytes-
                    # level detection covers struct dtypes too) — and
                    # drop any stale object a prior population left
                    d._kv.delete(dm.chunk_key(coords))
                    continue
                d.write_chunk(dm, coords, block)
                written += 1
            yield pd.DataFrame({"n": [len(pdf)], "written": [written]})

    row = (
        spark.range(n, numPartitions=task_count(n, chunk_bytes([dmeta]), cluster_parallelism(spark)))
        .mapInPandas(copy, "n long, written long")
        .groupBy()
        .sum("n", "written")
        .collect()[0]
    )
    return {"shards_total": int(row[0] or 0), "shards_written": int(row[1] or 0)}
