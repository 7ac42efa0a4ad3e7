"""Chunk-level zone maps: per-chunk min/max statistics used to prune
value-predicate scans before any chunk bytes are read.

The parquet row-group statistics idea applied to the Zarr chunk grid. The
reference stores whole-VARIABLE statsV1 (stats.h:229-335, schema
dataset_schema.h) — one histogram/min/max per array; a zone map is the same
contract at chunk granularity, which is what makes it a *pruning* structure
rather than a summary. Stored in the array's attributes (travels with the
store, readable by any zarr client as plain JSON) under ``mdio:chunk_stats``.

Scale design:
  * build — one distributed pass, one output row PER CHUNK (never per cell):
    a 100 TB / 1 MB-chunk array yields ~100 M tiny rows at most; at that
    size the manifest belongs in its own sidecar array, so ``build`` caps
    attr-resident manifests and refuses beyond it (the honest gate).
  * prune — two tiers. Driver-side: when the (already range-pruned) chunk
    grid is small enough to enumerate, the surviving linear ids ship as the
    task list, so skipped chunks never even become work. Executor-side:
    otherwise each task consults the manifest (already on every executor via
    the meta closure — no extra I/O) and skips incompatible chunks BEFORE
    the byte read — the decode, the decompress, and the kvstore GET all
    disappear, which at cloud-storage latency is the entire cost.

Fill-only chunks (no stored bytes) carry ``null`` stats; the reader's
existing fill-vs-predicate logic handles them.
"""

from __future__ import annotations

import itertools
import math
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from mdio_cpp_spark.sources.zarr_store import (
    CHUNK_STATS_ATTR,
    ZarrArrayMeta,
    ZarrStore,
    chunk_zone,
    zone_of,
)

STATS_KEY = CHUNK_STATS_ATTR

# attr-resident manifest cap: beyond this, stats belong in a sidecar array
MAX_ATTR_CHUNKS = 262_144

_FLOAT_MAX = float(np.finfo(np.float64).max)

# driver-side enumeration cap for exact pruning (beyond it, executor-side
# skip does the same work without a driver loop)
MAX_DRIVER_ENUM = 65_536


def _coords_key(coords: tuple[int, ...]) -> str:
    return ",".join(str(c) for c in coords)


def _chunk_zone(ts, m, coords: tuple[int, ...]) -> list[float] | None:
    """[vmin, vmax] of ONE chunk's valid (in-shape) extent; None for an
    absent / fill-only / all-NaN chunk.

    SHARDED stores stream inner chunks through partial shard reads
    (ZarrStore.shard_inner_blocks: one ranged index GET + one ranged GET
    per present inner chunk) instead of decoding the whole shard object —
    task memory stays one INNER chunk, and a stats pass over a 2 GiB
    shard never materializes 2 GiB. Missing inner cells inside a present
    shard contribute the FILL to the zone (a scan synthesizes fill there,
    so excluding it could wrongly prune ``v == fill`` predicates) —
    identical semantics to zoning the fully-decoded shard block."""
    shape, chunks = m.shape, m.chunks
    if m.shard is not None:
        it = ts.shard_inner_blocks(m, coords)
        if it is None:
            return None  # absent shard: pure fill
        inner = tuple(m.shard["chunk_shape"])
        origin = tuple(c * ch for c, ch in zip(coords, chunks))
        vmin = math.inf
        vmax = -math.inf
        seen = False
        fill_in_shape = False
        for coords_in, block in it:
            lo = tuple(origin[d] + coords_in[d] * inner[d]
                       for d in range(len(shape)))
            ext = tuple(min(inner[d], shape[d] - lo[d])
                        for d in range(len(shape)))
            if any(e <= 0 for e in ext):
                continue  # inner cell entirely outside the array shape
            if block is None:
                fill_in_shape = True
                continue
            z = zone_of(block[tuple(slice(0, e) for e in ext)])
            if z is not None:
                vmin, vmax, seen = min(vmin, z[0]), max(vmax, z[1]), True
        if fill_in_shape:
            z = zone_of(np.asarray([m.fill_scalar()], dtype=m.np_dtype))
            if z is not None:
                vmin, vmax, seen = min(vmin, z[0]), max(vmax, z[1]), True
        return [vmin, vmax] if seen else None
    block = ts.decode_chunk(m, coords)
    return None if block is None else chunk_zone(m, coords, block)


def compute_chunk_stats(
    spark: SparkSession, root: str, var: str, chunks_per_task: int = 8
) -> dict[str, list[float] | None]:
    """Distributed per-chunk [min, max] over the VALID extent of each chunk
    (edge padding excluded). One Spark job, one row per chunk."""
    store = ZarrStore.open(root)
    meta = store.array_meta(var)
    if meta.is_struct or meta.np_dtype.kind not in "biuf":
        raise ValueError("zone maps apply to scalar numeric/bool arrays only")
    if meta.nchunks() > MAX_ATTR_CHUNKS:
        raise ValueError(
            f"{meta.nchunks()} chunks exceeds the attr-resident manifest cap "
            f"({MAX_ATTR_CHUNKS}); store the manifest as a sidecar array instead"
        )
    grid = meta.grid_shape()
    shape, chunks = meta.shape, meta.chunks
    root_path, version = store.root, store.version
    par = max(1, spark.sparkContext.defaultParallelism)
    n_parts = min(max(1, math.ceil(meta.nchunks() / max(1, chunks_per_task))), 64 * par)

    def stat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ts = ZarrStore(root_path, version)
        m = ts.array_meta(var)
        for pdf in batches:
            rows = []
            for linear in pdf["id"].to_numpy():
                coords = tuple(int(c) for c in np.unravel_index(int(linear), grid))
                z = _chunk_zone(ts, m, coords)
                key = _coords_key(coords)
                rows.append((key, None, None) if z is None else (key, z[0], z[1]))
            yield pd.DataFrame(rows, columns=["key", "vmin", "vmax"])

    rows = (
        spark.range(meta.nchunks(), numPartitions=n_parts)
        .mapInPandas(stat, "key string, vmin double, vmax double")
        .collect()
    )
    return {
        r["key"]: (None if r["vmin"] is None else [r["vmin"], r["vmax"]]) for r in rows
    }


def publish_chunk_stats(root: str, var: str, stats: dict) -> None:
    """Attach the manifest to the array's attributes and republish metadata
    (the reference's PublishMetadata shape, variable.h:1522-1614)."""
    from mdio_cpp_spark.model import MdioDataset

    ds = MdioDataset.open(root)
    ds.update_attrs(var, **{STATS_KEY: stats})
    ds.commit_metadata()


def ensure_chunk_stats(spark: SparkSession, root: str, var: str) -> dict:
    """Build+publish the manifest once; reopen-safe and idempotent.

    The canonical build is the SIDECAR form (no attr-size cap, no per-chunk
    driver collect — see build_sidecar_stats below); a pre-existing
    attr-resident manifest (legacy form) is honored as-is."""
    meta = ZarrStore.open(root).array_meta(var)
    existing = meta.attrs.get(STATS_KEY)
    if existing is not None:
        return existing
    info = sidecar_info(meta)
    if info is not None:
        return info
    return build_sidecar_stats(spark, root, var)


def chunk_compatible(
    stats: list[float] | None, op: str, lit: Any, fill: Any,
    float_kind: bool = False,
) -> bool:
    """Can a chunk with zone [lo, hi] contain a row satisfying ``op lit``?
    ``None`` stats = fill-only chunk → evaluate the fill value itself.

    Soundness guards (pruning may only drop chunks that PROVABLY contain no
    matching row): an infinite/boundary literal never prunes (zones clamp
    ±inf into the finite range for JSON, so a clamped hi cannot be compared
    against lit=+inf); on float arrays ``!=`` never prunes (the zone masks
    NaN cells — which DO satisfy any != — so a constant-looking zone can
    still hide matching NaN rows).

    NaN cells surface as SQL NULL at the engine's Arrow boundary (the
    whole-engine convention), and NULL satisfies no comparison — so the
    numpy semantics here (NaN matches no ordered op) are exactly the
    semantics of a consumed DSv2 predicate too."""
    try:
        if lit is None or not math.isfinite(float(lit)):
            return True
    except (TypeError, ValueError, OverflowError):
        return True
    if abs(float(lit)) >= _FLOAT_MAX:
        return True  # clamped-zone territory: cannot distinguish inf from max
    if stats is None:
        if fill is None:
            return True
        lo = hi = fill
    else:
        lo, hi = stats
    if op == ">=":
        return hi >= lit
    if op == ">":
        return hi > lit
    if op == "<=":
        return lo <= lit
    if op == "<":
        return lo < lit
    if op == "==":
        return lo <= lit <= hi
    if op == "!=":
        if float_kind:
            return True  # zone masks NaN cells, which satisfy every !=
        return not (lo == hi == lit)
    return True  # unknown op: never prune


def load_stats(meta: ZarrArrayMeta) -> dict | None:
    return meta.attrs.get(STATS_KEY)


def zone_form(meta: ZarrArrayMeta) -> str | None:
    """The zone map a write to ``meta`` must keep coherent: ``"attr"`` (a
    manifest in the array's attributes, which wins when both exist, as in
    ``open_zones``), ``"sidecar"`` (a marker valid for the current grid),
    or None (no zone map, or a dtype zone maps do not cover). Every writer
    asks this, and only this, which form to keep."""
    if meta.is_struct or meta.np_dtype.kind not in "biuf":
        return None
    if STATS_KEY in meta.attrs:
        return "attr"
    if sidecar_info(meta) is not None:
        return "sidecar"
    return None


def fold_zones(store: ZarrStore, zones_by_var: dict[str, dict]) -> bool:
    """Fold the zones of rewritten chunks into each variable's zone map:
    ``{var: {"c0,c1,...": [lo, hi] | None | "unknown"}}``, where None is a
    fill-only chunk and ``"unknown"`` never prunes until stats are rebuilt.
    An attribute manifest takes the zones into a new attribute document,
    not yet republished (an ``"unknown"`` drops the key); a sidecar takes
    them through its chunk read-modify-write. Returns True when an
    attribute manifest changed: the caller then consolidates, once, after
    all its metadata changes."""
    changed = False
    for var, zones in zones_by_var.items():
        if not zones:
            continue
        meta = store.array_meta(var)
        form = zone_form(meta)
        if form == "attr":
            manifest = dict(meta.attrs[STATS_KEY])
            for key, z in zones.items():
                if z == "unknown":
                    manifest.pop(key, None)
                else:
                    manifest[key] = z
            store.update_array_attrs(var, {**meta.attrs, STATS_KEY: manifest},
                                     reconsolidate=False)
            changed = True
        elif form == "sidecar":
            _fold_sidecar(store.root, var, sidecar_info(meta), zones)
    return changed


# --------------------------------------------------------------------------
# Sidecar manifest: the scale form of the zone map.
#
# The attr-resident manifest above caps at MAX_ATTR_CHUNKS because array
# attributes are one JSON document read on every open. At the 100-TB design
# point (~12M chunks of 8 MiB) the manifest must live OUTSIDE the metadata
# hot path and be built WITHOUT a per-chunk driver collect. The sidecar is
# the reference's own consolidated-metadata idea (zarr_v2.h:221-309) applied
# to stats: metadata stays O(1), stats scale in chunks.
#
# Layout: a private Zarr v2 store at ``<root>/.zonemap/<var>`` holding two
# 1-D float64 arrays ``vmin``/``vmax`` of length n_chunks, indexed by the
# GLOBAL linear chunk id (C-order ravel of the chunk grid), chunked at
# SIDECAR_CHUNK ids (→ a 12M-chunk array needs ~370 sidecar chunks of
# 256 KiB). A dot-prefixed child directory has no .zarray/zarr.json at its
# top level, so the main store's arrays()/consolidate() never see it.
#
# Entry encoding (all states must round-trip through raw float64 bytes):
#   [lo, hi] finite            → chunk zone
#   NaN, NaN                   → fill-only / all-NaN at compute time
#   +inf, -inf (inverted)      → UNKNOWN: never prune
#   sidecar chunk absent       → UNKNOWN for every id it covers
#
# Discovery: a marker attr SIDECAR_ATTR on the variable carries
# {grid, chunk, nchunks}. A grid mismatch (resize/trim/re-chunk) makes the
# marker invalid and the whole sidecar is ignored — stale stats can never
# wrongly prune.
#
# Build: one distributed decode pass (one row PER CHUNK) → one tiny shuffle
# keyed by sidecar-chunk id → each reduce task writes whole sidecar chunks.
# Nothing per-chunk ever reaches the driver.
# --------------------------------------------------------------------------

SIDECAR_ATTR = "mdio:zonemap_sidecar"
SIDECAR_DIR = ".zonemap"
SIDECAR_CHUNK = 32_768


def _sidecar_root(store_root: str, var: str) -> str:
    return f"{store_root.rstrip('/')}/{SIDECAR_DIR}/{var}"


def sidecar_info(meta: ZarrArrayMeta) -> dict | None:
    """The variable's sidecar marker, validated against the CURRENT chunk
    grid (a resize/trim/re-chunk scrambles linear ids → marker invalid)."""
    info = meta.attrs.get(SIDECAR_ATTR)
    if not isinstance(info, dict):
        return None
    if list(info.get("grid", [])) != [int(g) for g in meta.grid_shape()]:
        return None
    return info


class SidecarZones:
    """Lazy, chunk-cached reader over a sidecar manifest. Picklable into
    task closures (the cache and store handle never ship)."""

    _CACHE_CAP = 8  # decoded sidecar chunks held per reader (~512 KiB each)

    def __init__(self, store_root: str, var: str, info: dict):
        self.root = _sidecar_root(store_root, var)
        self.grid = tuple(int(g) for g in info["grid"])
        self.sc = int(info.get("chunk", SIDECAR_CHUNK))
        self.n = int(info["nchunks"])
        self._cache: dict[int, tuple] = {}
        self._store = None

    def __getstate__(self):
        return {"root": self.root, "grid": self.grid, "sc": self.sc, "n": self.n}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._cache = {}
        self._store = None

    def _blocks(self, sid: int):
        if sid in self._cache:
            return self._cache[sid]
        if self._store is None:
            st = ZarrStore.open(self.root)
            self._store = (st, st.array_meta("vmin"), st.array_meta("vmax"))
        st, mmin, mmax = self._store
        bmin = st.decode_chunk(mmin, (sid,))
        bmax = st.decode_chunk(mmax, (sid,))
        pair = None if bmin is None or bmax is None else (bmin, bmax)
        if len(self._cache) >= self._CACHE_CAP:
            self._cache.clear()
        self._cache[sid] = pair
        return pair

    def lookup_linear(self, linear: int) -> tuple[bool, list[float] | None]:
        """→ (known, zone). known=False means UNKNOWN (never prune);
        zone=None with known=True means fill-only semantics."""
        sid, off = divmod(int(linear), self.sc)
        pair = self._blocks(sid)
        if pair is None:
            return False, None
        lo, hi = float(pair[0][off]), float(pair[1][off])
        if lo == math.inf and hi == -math.inf:
            return False, None  # explicit UNKNOWN sentinel
        if math.isnan(lo) or math.isnan(hi):
            return True, None  # fill-only
        return True, [lo, hi]

    def lookup_coords(self, coords: tuple[int, ...]) -> tuple[bool, list[float] | None]:
        linear = 0
        for g, c in zip(self.grid, coords):
            linear = linear * g + int(c)
        return self.lookup_linear(linear)


def open_zones(meta: ZarrArrayMeta, store_root: str):
    """Uniform zone source for the scan: the attr manifest when present
    (legacy form), else a validated sidecar reader, else None."""
    stats = load_stats(meta)
    if stats is not None:
        return ("dict", stats)
    info = sidecar_info(meta)
    if info is not None:
        return ("side", SidecarZones(store_root, meta.name, info))
    return None


def zone_keep(zone_src, coords: tuple[int, ...], op: str, lit: Any, fill: Any,
              float_kind: bool) -> bool:
    """Shared keep/prune decision over either zone-source form."""
    if zone_src is None:
        return True
    kind, src = zone_src
    if kind == "dict":
        key = _coords_key(coords)
        if key not in src:
            # absent from the manifest = UNKNOWN (e.g. a chunk created by a
            # later resize) — never prune on unknown
            return True
        zone = src[key]
    else:
        known, zone = src.lookup_coords(coords)
        if not known:
            return True
    return chunk_compatible(zone, op, lit, fill, float_kind=float_kind)


def build_sidecar_stats(
    spark: SparkSession, root: str, var: str, chunks_per_task: int = 8
) -> dict:
    """Build the sidecar manifest fully distributed and publish the marker.

    Stage 1 (map): decode each chunk once, emit (id, vmin, vmax) — one tiny
    row per CHUNK, never per cell. Stage 2 (reduce): shuffle those rows by
    sidecar-chunk id; each task assembles and writes whole sidecar chunks.
    The driver sees only the final row-count (build-completeness check) —
    no per-chunk collect at any size, no attr-size cap."""
    from pyspark.sql import functions as F

    store = ZarrStore.open(root)
    meta = store.array_meta(var)
    if meta.is_struct or meta.np_dtype.kind not in "biuf":
        raise ValueError("zone maps apply to scalar numeric/bool arrays only")
    n = meta.nchunks()
    grid = meta.grid_shape()
    shape, chunks = meta.shape, meta.chunks
    sroot = _sidecar_root(store.root, var)
    sc = SIDECAR_CHUNK
    try:
        # a stale sidecar (prior grid) must not leave old stats chunks that
        # would decode as current — rebuild from a clean slate
        ZarrStore.open(sroot).delete()
    except FileNotFoundError:
        pass
    side = ZarrStore.create(sroot, version=2)
    side.create_array("vmin", shape=(n,), chunks=(sc,), dtype=np.float64, fill=None)
    side.create_array("vmax", shape=(n,), chunks=(sc,), dtype=np.float64, fill=None)
    side.consolidate()
    root_path, version = store.root, store.version

    par = max(1, spark.sparkContext.defaultParallelism)
    n_parts = min(max(1, math.ceil(n / max(1, chunks_per_task))), 64 * par)

    def stat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ts = ZarrStore(root_path, version)
        m = ts.array_meta(var)
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            vmin = np.empty(len(ids))
            vmax = np.empty(len(ids))
            for j, linear in enumerate(ids):
                coords = tuple(int(c) for c in np.unravel_index(int(linear), grid))
                z = _chunk_zone(ts, m, coords)
                if z is None:
                    vmin[j] = vmax[j] = np.nan
                else:
                    vmin[j], vmax[j] = z
            yield pd.DataFrame({"id": ids, "vmin": vmin, "vmax": vmax})

    def write_side(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        # init to the UNKNOWN sentinel: any id the build somehow missed can
        # never wrongly prune
        arr_min = np.full(sc, np.inf)
        arr_max = np.full(sc, -np.inf)
        off = pdf["id"].to_numpy(dtype=np.int64) - sid * sc
        arr_min[off] = pdf["vmin"].to_numpy(dtype=np.float64)
        arr_max[off] = pdf["vmax"].to_numpy(dtype=np.float64)
        st = ZarrStore.open(sroot)
        st.write_chunk(st.array_meta("vmin"), (sid,), arr_min)
        st.write_chunk(st.array_meta("vmax"), (sid,), arr_max)
        return pd.DataFrame({"sid": [sid], "n": [len(pdf)]})

    written = (
        spark.range(n, numPartitions=n_parts)
        .mapInPandas(stat, "id long, vmin double, vmax double")
        .withColumn("sid", F.expr(f"id div {sc}"))
        .groupBy("sid")
        .applyInPandas(write_side, "sid long, n long")
    )
    total = written.agg(F.sum("n").alias("n")).collect()[0]["n"]
    if total != n:
        raise RuntimeError(f"sidecar build incomplete: {total}/{n} chunk stats written")

    info = {"grid": [int(g) for g in grid], "chunk": sc, "nchunks": int(n)}
    from mdio_cpp_spark.model import MdioDataset

    ds = MdioDataset.open(root)
    ds.update_attrs(var, **{SIDECAR_ATTR: info})
    ds.commit_metadata()
    return info


def zone_keeper(
    meta: ZarrArrayMeta, store_root: str, value_filters
) -> Callable[[tuple[int, ...]], bool] | None:
    """callable(chunk_coords) -> keep?, for the value predicates
    ``[(op, lit)]`` — the comparisons, "in" (tuple literal), "isnull" /
    "notnull" — over the array's zone stats (attr manifest or sidecar);
    None when there is nothing to prune with. Cheap to build and picklable,
    so it is built wherever it runs: the driver for enumeration, each task
    for the streamed skip."""
    if not value_filters:
        return None
    zone_src = open_zones(meta, store_root)
    if zone_src is None:
        return None
    try:
        fill = meta.fill_scalar()
    except Exception:
        fill = None
    float_kind = meta.np_dtype.kind == "f"
    vfs = list(value_filters)

    def keep(coords: tuple[int, ...]) -> bool:
        for op, lit in vfs:
            if op == "in":
                # a chunk survives if ANY member could live in its zone;
                # big lists skip the per-member walk (keep — sound)
                if len(lit) <= 64 and not any(
                    zone_keep(zone_src, coords, "==", v, fill, float_kind) for v in lit
                ):
                    return False
            elif op in ("isnull", "notnull"):
                continue  # zones track [min,max], not NaN presence
            elif not zone_keep(zone_src, coords, op, lit, fill, float_kind):
                return False
        return True

    return keep


def driver_survivors(per_dim, keep) -> tuple[int, ...] | None:
    """Driver-tier exact pruning: the linear ids (C order within the pruned
    grid ``per_dim``) of the chunks ``keep`` admits, so skipped chunks never
    even become work. None when there is no keeper or the grid is past
    MAX_DRIVER_ENUM — each task then applies ``keep`` itself."""
    if keep is None or math.prod(len(r) for r in per_dim) > MAX_DRIVER_ENUM:
        return None
    return tuple(i for i, coords in enumerate(itertools.product(*per_dim)) if keep(coords))


def pruning_report(
    root: str,
    var: str,
    value_filter: tuple[str, Any],
    ranges: dict[str, tuple] | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Observability: how much would the zone map prune for this predicate?
    Returns {"planned": range-pruned chunk count, "kept": zone-compatible
    count, "pruned": the difference, "source": "attr"|"sidecar"|None} —
    the number a 100-TB operator wants BEFORE paying for a scan. Driver
    enumeration for grids ≤ MAX_DRIVER_ENUM; a distributed judge pass
    beyond (requires ``spark``; one tiny row per chunk, nothing decoded)."""
    from mdio_cpp_spark.sources.reader import chunk_coords, plan_chunks

    store = ZarrStore.open(root)
    meta = store.array_meta(var)
    per_dim, n = plan_chunks(meta, ranges)
    keep = zone_keeper(meta, store.root, [value_filter])
    if keep is None or n == 0:
        return {"planned": n, "kept": n, "pruned": 0, "source": None}
    source = "attr" if load_stats(meta) is not None else "sidecar"
    ids = driver_survivors(per_dim, keep)
    if ids is not None:
        return {"planned": n, "kept": len(ids), "pruned": n - len(ids), "source": source}
    if spark is None:
        raise ValueError(
            f"{n} chunks exceeds the driver enumeration cap; pass a "
            "SparkSession for the distributed judge pass"
        )

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kept = sum(keep(chunk_coords(int(i), per_dim)) for i in pdf["id"].to_numpy())
            yield pd.DataFrame({"kept": [kept]})

    par = max(1, spark.sparkContext.defaultParallelism)
    n_parts = min(max(1, math.ceil(n / 4096)), 64 * par)
    kept = int(
        spark.range(n, numPartitions=n_parts)
        .mapInPandas(judge, "kept long")
        .groupBy()
        .sum("kept")
        .collect()[0][0]
        or 0
    )
    return {"planned": n, "kept": kept, "pruned": n - kept, "source": source}


def apply_zone_updates(root: str, var: str, zones: dict[str, list | None]) -> None:
    """Fold fresh zones for TOUCHED chunks into the sidecar (write-coherence
    RMW; zones keyed 'c0,c1,...'). Safe from concurrent tasks as long as
    each sidecar chunk's ids come from one caller — the writer paths group
    by sidecar-chunk id to guarantee that; the driver-side writers are
    single-writer by contract. No-op when no valid sidecar exists."""
    store = ZarrStore.open(root)
    info = sidecar_info(store.array_meta(var))
    if info is not None and zones:
        _fold_sidecar(store.root, var, info, zones)


def _fold_sidecar(store_root: str, var: str, info: dict, zones: dict) -> None:
    """``apply_zone_updates`` once the sidecar marker ``info`` is known."""
    grid = tuple(int(g) for g in info["grid"])
    sc = int(info.get("chunk", SIDECAR_CHUNK))
    st = ZarrStore.open(_sidecar_root(store_root, var))
    mmin, mmax = st.array_meta("vmin"), st.array_meta("vmax")
    by_sid: dict[int, list] = {}
    for key, z in zones.items():
        coords = tuple(int(c) for c in key.split(","))
        linear = 0
        for g, c in zip(grid, coords):
            linear = linear * g + c
        sid, off = divmod(linear, sc)
        by_sid.setdefault(sid, []).append((off, z))
    for sid, entries in sorted(by_sid.items()):
        bmin = st.decode_chunk(mmin, (sid,))
        bmax = st.decode_chunk(mmax, (sid,))
        if bmin is None or bmax is None:
            bmin = np.full(sc, np.inf)
            bmax = np.full(sc, -np.inf)
        else:
            bmin, bmax = bmin.copy(), bmax.copy()
        for off, z in entries:
            if z == "unknown":
                # explicit UNKNOWN sentinel (e.g. a grow exposed new cells
                # in this chunk): never prune until stats are recomputed
                bmin[off], bmax[off] = np.inf, -np.inf
            elif z is None:
                bmin[off] = bmax[off] = np.nan
            else:
                bmin[off], bmax[off] = float(z[0]), float(z[1])
        st.write_chunk(mmin, (sid,), bmin)
        st.write_chunk(mmax, (sid,), bmax)


def aggregate_from_manifest(
    meta: ZarrArrayMeta, root: str | None = None
) -> tuple[int, float, float] | None:
    """Answer (count, min, max) of a FULLY-WRITTEN array from its manifest
    alone — zero chunk reads (the stats-only aggregate every warehouse
    pulls from footer metadata). Tries the attr manifest, then (given
    ``root``) the sidecar: streamed vectorized min/max over the sidecar
    chunks, O(n_chunks/SIDECAR_CHUNK) reads. Returns None when the manifest
    is absent, stale, incomplete, or any chunk is fill-only/unknown (fill
    values — often NaN — need real decode semantics)."""
    stats = load_stats(meta)
    if stats is not None:
        if len(stats) != meta.nchunks():
            return None
        zones = list(stats.values())
        if any(z is None for z in zones):
            return None
        count = int(np.prod(meta.shape))
        return count, min(z[0] for z in zones), max(z[1] for z in zones)
    if root is None:
        return None
    info = sidecar_info(meta)
    if info is None or int(info["nchunks"]) != meta.nchunks():
        return None
    store = ZarrStore.open(root)
    st = ZarrStore.open(_sidecar_root(store.root, meta.name))
    mmin, mmax = st.array_meta("vmin"), st.array_meta("vmax")
    n, sc = int(info["nchunks"]), int(info.get("chunk", SIDECAR_CHUNK))
    gmin, gmax = math.inf, -math.inf
    for sid in range(math.ceil(n / sc)):
        bmin = st.decode_chunk(mmin, (sid,))
        bmax = st.decode_chunk(mmax, (sid,))
        if bmin is None or bmax is None:
            return None  # unknown block → incomplete manifest
        k = min(sc, n - sid * sc)
        lo, hi = bmin[:k], bmax[:k]
        # NaN = fill-only, inverted-inf = unknown: both disqualify the
        # metadata-only answer
        if np.isnan(lo).any() or np.isnan(hi).any() or np.isinf(lo).any() or np.isinf(hi).any():
            return None
        gmin = min(gmin, float(lo.min()))
        gmax = max(gmax, float(hi.max()))
    return int(np.prod(meta.shape)), gmin, gmax
