"""Resize-grow: the inverse of IO8 trim (utils/trim.py).

The reference sizes datasets at creation and only ever *shrinks* them
(``utils::TrimDataset`` → ``tensorstore::Resize``, reference
``mdio/utils/trim.h:45-117``); the same Resize machinery grows bounds, which
is what an append workflow needs. Growing is a pure metadata operation here:
newly-exposed cells are never materialized — absent chunks read as fill
(sparse semantics, reference ``dataset_factory.h:500-545``), and the old
boundary chunk needs no rewrite because the writer always encodes full
fill-initialized blocks, so its out-of-bounds tail already holds fill.

Single-writer metadata operation; consolidated metadata republished at the
end (CommitMetadata-on-resize, reference ``dataset.h:1269-1416``).
"""

from __future__ import annotations

from mdio_cpp_spark.sources.zarr_store import ZarrStore


def grow_dataset(path: str, **new_sizes: int) -> dict:
    """Grow dims to new sizes, e.g. ``grow_dataset(p, i=20000)``.

    Every array carrying a named dim is grown along it. Shrinking is
    rejected — that is ``trim_dataset``'s job (destructive, chunk-deleting).
    Returns {variable: new_shape}.
    """
    store = ZarrStore.open(path)
    report: dict[str, tuple] = {}
    for name, meta in store.arrays().items():
        dims = meta.dims or tuple(f"dim_{d}" for d in range(meta.ndim))
        if not any(d in new_sizes for d in dims):
            continue
        new_shape = list(meta.shape)
        for d, dim in enumerate(dims):
            if dim in new_sizes:
                ns = int(new_sizes[dim])
                if ns < meta.shape[d]:
                    raise ValueError(
                        f"grow cannot shrink {dim!r} ({meta.shape[d]} -> {ns}); "
                        "use trim_dataset"
                    )
                new_shape[d] = ns
        # Zone-map coherence: a grow that stays WITHIN an existing partial
        # boundary chunk leaves the chunk grid unchanged, so the sidecar's
        # grid fingerprint does not invalidate — but the boundary chunk's
        # zone was computed over the OLD valid extent, and the newly-exposed
        # cells decode as FILL (the writer pads blocks with fill). A
        # stale-narrow zone could then wrongly prune a `== fill` scan. Mark
        # every chunk that gains cells as UNKNOWN BEFORE publishing the new
        # shape.
        _invalidate_boundary_zones(store, name, meta, new_shape)
        if store.version == 2:
            zarray = store._read_json(f"{name}/.zarray")
            zarray["shape"] = new_shape
            store._write_json(f"{name}/.zarray", zarray)
        else:
            zjson = store._read_json(f"{name}/zarr.json")
            zjson["shape"] = new_shape
            store._write_json(f"{name}/zarr.json", zjson)
        report[name] = tuple(new_shape)
    store.consolidate()
    return report


def _invalidate_boundary_zones(store, name, meta, new_shape) -> None:
    import itertools

    import numpy as np

    from mdio_cpp_spark.sources import zonemap

    if not zonemap.is_zoned(meta):
        return
    grown = [
        d for d in range(meta.ndim)
        if new_shape[d] > meta.shape[d] and meta.shape[d] % meta.chunks[d] != 0
    ]
    if not grown:
        return  # growth starts on a chunk boundary: no chunk gains cells
    grid = meta.grid_shape()
    affected: set[tuple[int, ...]] = set()
    for d in grown:
        b = meta.shape[d] // meta.chunks[d]
        ranges = [range(grid[k]) if k != d else (b,) for k in range(meta.ndim)]
        affected.update(itertools.product(*ranges))
    zonemap.fold_zones(store, {name: {
        int(np.ravel_multi_index(coords, grid)): "unknown" for coords in affected}})
