"""`spark.read.format("mdio")` — a PySpark Python Data Source for Zarr/MDIO.

The most idiomatic packaging of the scan path (SURVEY §2.1 IO1/IO4): the
reader participates in Catalyst planning directly, and plans and decodes
through the same chunk-scan core as ``scan_array`` (sources/reader.py) —

  * ``schema()`` — driver-side metadata read → long-form schema
    ``(dims…, value)`` (one consolidated-metadata read, zarr_v2.h:467-482).
  * ``pushFilters()`` — Catalyst hands the reader its predicates; filters on
    DIMENSION columns (=, <, <=, >, >=, IN) are CONSUMED and become the
    box and member lists that drive chunk pruning — the custom piece
    Catalyst can't do itself (SURVEY §4). Value-column comparisons, IN and
    IS [NOT] NULL are consumed too: the decoder masks them exactly (NaN
    cells surface as NULL, which no comparison satisfies) and zone maps
    skip incompatible chunks.
  * ``partitions()`` — the core's pruned grid split by its task-count rule
    into ranges of linear chunk ids (explicit survivor ids after
    driver-tier zone pruning); Spark schedules them like any other source's
    splits.
  * ``read()`` — executors decode chunks to Arrow RecordBatches (zero
    Python-object rows on the hot path); absent chunks synthesize fill.

Usage:
    from mdio_cpp_spark.sources.datasource import register
    register(spark)
    df = (spark.read.format("mdio")
          .option("path", "/data/campos_3d.zarr").option("variable", "image")
          .load().filter("inline >= 100 AND inline < 200"))
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from mdio_cpp_spark.sources import zonemap as _zonemap
from mdio_cpp_spark.sources.reader import (
    _dim_names,
    _picks,
    chunk_bytes,
    chunk_coords,
    cluster_parallelism,
    decode_frames,
    frame_schema,
    fused_outputs,
    grid_size,
    plan_grid,
    scan_schema,
    task_spans,
)
from mdio_cpp_spark.sources.zarr_store import ZarrStore, _clamped_box, chunk_zone


class MdioChunkPartition(InputPartition):
    """A contiguous RANGE of linear chunk ids within the pruned grid — one
    partition object per task, not per chunk, so a petascale array (millions
    of chunks) plans thousands of partitions, each decoding a slice of the
    grid. (grid_starts, grid_lens) define the pruned per-dim chunk ranges;
    linear ids unravel C-order within that grid."""

    def __init__(self, start: int, end: int, grid_starts: tuple[int, ...], grid_lens: tuple[int, ...],
                 ids: tuple[int, ...] | None = None,
                 dim_chunks: tuple[tuple[int, ...], ...] | None = None):
        self.start = start
        self.end = end
        self.grid_starts = grid_starts
        self.grid_lens = grid_lens
        # explicit survivor ids (driver-tier zone pruning); None = the
        # contiguous [start, end) range
        self.ids = ids
        # non-contiguous per-dim chunk indices (an In-filtered dim); None =
        # contiguous ranges described by (grid_starts, grid_lens). Bounded
        # by the In list's length, so the per-partition pickle stays tiny.
        self.dim_chunks = dim_chunks

    def coords_iter(self):
        per_dim = self.dim_chunks or [
            range(s, s + n) for s, n in zip(self.grid_starts, self.grid_lens)
        ]
        for linear in self.ids if self.ids is not None else range(self.start, self.end):
            yield chunk_coords(linear, per_dim)


class MdioDataSource(DataSource):
    """format("mdio") — options: path (store root), variable (array name),
    value_col (default 'value'), fields (comma-separated struct fields).
    ALTERNATIVE: variables (comma-separated 'var' / 'var.field' entries) —
    the fused aligned multi-variable scan (one task decodes every listed
    variable's chunk at the same coords; no join, no shuffle). Output
    columns are the field name for 'var.field' entries, else the variable
    name; all listed variables must share dims/shape/chunks."""

    # the registering session's defaultParallelism (see ``register``)
    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "mdio"

    def _parse_path(self) -> str:
        path = self.options.get("path")
        if not path:
            return path
        if path.startswith("file://"):
            return path[len("file://"):]
        if path.startswith("file:"):
            return path[len("file:"):]
        return path

    def _aligned_specs(self):
        """[(entry, out_col)] from the ``variables`` option, or None when
        the option is absent."""
        raw = self.options.get("variables")
        if not raw:
            return None
        entries = [e.strip() for e in raw.split(",")]
        return [(e, e.partition(".")[2] or e) for e in entries]

    def _fused(self, store):
        """Outputs of the fused ``variables`` scan; None for one variable."""
        specs = self._aligned_specs()
        if not specs or self.options.get("variable"):
            return None
        return fused_outputs(store.array_meta, specs)

    def _meta(self):
        path = self._parse_path()
        var = self.options.get("variable")
        if path and not var and self._aligned_specs():
            store = ZarrStore.open(path)
            return store, self._fused(store)[0][0]
        if not path or not var:
            raise ValueError(
                "format('mdio') requires .option('path', …) and "
                ".option('variable', …). Note: catalog-persisted tables "
                "(CREATE TABLE … USING mdio) are not supported — Spark's "
                "Python Data Source API hands persisted tables an empty "
                "options map; register a temp view over read.format('mdio') "
                "instead (the zarr18 SQL route)."
            )
        store = ZarrStore.open(path)
        return store, store.array_meta(var)

    def schema(self) -> StructType:
        store, meta = self._meta()
        outputs = self._fused(store)
        if outputs:
            return frame_schema(_dim_names(meta), outputs)
        fields = self.options.get("fields")
        return scan_schema(
            meta,
            fields.split(",") if fields else None,
            self.options.get("value_col", "value"),
        )

    def reader(self, schema: StructType) -> "MdioReader":
        store, meta = self._meta()
        outputs = self._fused(store)
        if outputs:
            return MdioAlignedReader(store, outputs, self.options, self.parallelism)
        return MdioReader(store, meta, self.options, self.parallelism)

    def writer(self, schema: StructType, overwrite: bool) -> "MdioArrowWriter":
        if self._aligned_specs() and not self.options.get("variable"):
            raise ValueError("the 'variables' option is read-only; write one "
                             "variable at a time (or use write_arrays for a "
                             "fused multi-variable write)")
        if overwrite:
            raise ValueError("format('mdio') writes are append/RMW only; "
                             "use TrimDataset/DeleteDataset for destructive ops")
        store, meta = self._meta()
        return MdioArrowWriter(
            store.root, store.version, meta.name,
            self.options.get("value_col", "value"),
        )

    def streamWriter(self, schema: StructType, overwrite: bool) -> "MdioStreamArrowWriter":
        if overwrite:
            raise ValueError(
                "format('mdio') streaming writes are append/RMW only — "
                "outputMode('complete') (truncate-per-batch) is not supported; "
                "use update/append output modes"
            )
        store, meta = self._meta()
        return MdioStreamArrowWriter(
            store.root, store.version, meta.name,
            self.options.get("value_col", "value"),
        )

    def streamReader(self, schema: StructType) -> "MdioStreamReader":
        store, meta = self._meta()
        return MdioStreamReader(store.root, store.version, meta.name, self.options, self.parallelism)


class MdioReader(DataSourceReader):
    def __init__(self, store: ZarrStore, meta, options, parallelism: int | None = None):
        self.root = store.root
        self.version = store.version
        self.meta = meta
        self.value_col = options.get("value_col", "value")
        fields = options.get("fields")
        self.outputs = [(meta, _picks(meta, fields.split(",") if fields else None, self.value_col))]
        self.parallelism = parallelism or cluster_parallelism()
        self.dim_names = _dim_names(meta)
        # accumulated half-open bounds per dim, refined by pushFilters
        self._bounds: dict[str, list[int]] = {
            d: [0, meta.shape[i]] for i, d in enumerate(self.dim_names)
        }
        # value-column comparisons consumed by pushFilters: evaluated
        # exactly in the decoder (numpy, before the Arrow boundary) and —
        # when the array carries zone-map stats — used to SKIP incompatible
        # chunks before the byte GET (sources/zonemap.py). Ops: the five
        # comparisons, plus "in" (tuple payload), "isnull", "notnull".
        self._value_filters: list[tuple[str, Any]] = []
        # In-sets on dimension columns: exact scattered-index selection —
        # chunks prune to those containing a member, rows mask to members
        self._dim_in: dict[str, tuple[int, ...]] = {}

    # -------------------------------------------------------------- pushdown

    _VF_OPS = {
        EqualTo: "==",
        # null-safe equality to a NON-NULL literal is plain equality on the
        # scan output (a NULL literal fails the numeric-literal guard below)
        EqualNullSafe: "==",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }

    @staticmethod
    def _is_num(v) -> bool:
        return (
            isinstance(v, (int, float, np.integer, np.floating))
            and not isinstance(v, bool)
            and not (isinstance(v, (float, np.floating)) and np.isnan(v))
        )

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume dim-column comparisons and In-sets (exact chunk-pruning
        ranges / scattered-index lists) AND value-column comparisons, In,
        IS [NOT] NULL (decoder-exact, zone-map-prunable); yield back
        everything else for Spark to evaluate."""
        value_pushable = (
            not self.meta.is_struct
            and self.meta.np_dtype.kind in "iuf"
            # uint64 surfaces as Decimal(20,0) — object cells, not a numpy
            # comparison target; leave its predicates to Spark
            and self.meta.np_dtype.name != "uint64"
        )
        for f in filters:
            consumed = False
            col = f.attribute[0] if getattr(f, "attribute", None) else None
            if col in self._bounds and isinstance(f, In) and all(
                isinstance(v, (int, np.integer)) and not isinstance(v, bool)
                for v in f.value
            ):
                new = tuple(sorted({int(v) for v in f.value}))
                old = self._dim_in.get(col)
                self._dim_in[col] = (
                    new if old is None else tuple(sorted(set(old) & set(new)))
                )
                consumed = True
            elif col in self._bounds and isinstance(f, IsNotNull):
                consumed = True  # dimension indices are never null
            elif value_pushable and col == self.value_col and isinstance(f, In) and all(
                self._is_num(v) for v in f.value
            ):
                lits = tuple(
                    int(v) if isinstance(v, (int, np.integer)) else float(v)
                    for v in f.value
                )
                self._value_filters.append(("in", lits))
                consumed = True
            elif value_pushable and col == self.value_col and isinstance(f, IsNotNull):
                # NaN cells surface as NULL at the Arrow boundary — the
                # decoder mask is ~isnan (ints/bools are never null)
                self._value_filters.append(("notnull", None))
                consumed = True
            elif value_pushable and col == self.value_col and isinstance(f, IsNull):
                self._value_filters.append(("isnull", None))
                consumed = True
            elif col in self._bounds and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ) and isinstance(f.value, (int, np.integer)):
                lo, hi = self._bounds[col]
                v = int(f.value)
                if isinstance(f, EqualTo):
                    lo, hi = max(lo, v), min(hi, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    lo = max(lo, v)
                elif isinstance(f, GreaterThan):
                    lo = max(lo, v + 1)
                elif isinstance(f, LessThan):
                    hi = min(hi, v)
                elif isinstance(f, LessThanOrEqual):
                    hi = min(hi, v + 1)
                self._bounds[col] = [lo, hi]
                consumed = True
            elif (
                value_pushable
                and col == self.value_col
                and type(f) in self._VF_OPS
                and isinstance(f.value, (int, float, np.integer, np.floating))
                and not isinstance(f.value, bool)
                and not (isinstance(f.value, (float, np.floating)) and np.isnan(f.value))
            ):
                # consumed = Spark will NOT re-check: the decoder's numpy
                # mask reproduces the predicate exactly on the scan's output
                # domain (NaN cells surface as NULL at the Arrow boundary,
                # and NULL fails every comparison — numpy's NaN behavior);
                # NaN literals stay with Spark. Int literals keep their
                # native type — float() would lose exactness past 2^53 on
                # int64 columns
                lit = (
                    int(f.value)
                    if isinstance(f.value, (int, np.integer))
                    else float(f.value)
                )
                self._value_filters.append((self._VF_OPS[type(f)], lit))
                consumed = True
            if not consumed:
                yield f

    def _box(self):
        return _clamped_box(
            self.meta, {d: (lo, hi) for d, (lo, hi) in self._bounds.items()}
        )

    # ------------------------------------------------------------- planning

    def partitions(self) -> list[MdioChunkPartition]:
        members = {self.dim_names.index(d): m for d, m in self._dim_in.items()}
        per_dim = plan_grid(self.meta, self._box(), members)
        ids = _zonemap.driver_survivors(per_dim, self._zone_keeper())
        n = grid_size(per_dim) if ids is None else len(ids)
        starts = tuple(r.start if isinstance(r, range) else 0 for r in per_dim)
        lens = tuple(len(r) for r in per_dim)
        dim_chunks = tuple(tuple(r) for r in per_dim) if members else None
        return [
            MdioChunkPartition(lo, hi, starts, lens, None if ids is None else ids[lo:hi], dim_chunks)
            for lo, hi in task_spans(n, chunk_bytes(m for m, _ in self.outputs), self.parallelism)
        ]

    def _zone_keeper(self):
        """callable(chunk_coords) -> keep?, from the pushed value filters and
        the array's zone stats; None when there is nothing to prune with."""
        return _zonemap.zone_keeper(self.meta, self.root, self._value_filters)

    # -------------------------------------------------------------- execute

    def read(self, partition: MdioChunkPartition) -> Iterator[pa.RecordBatch]:
        if partition is None:  # empty selection: partitions() returned []
            return
        # survivor ids were zone-checked on the driver; a range partition
        # skips zone-incompatible chunks here, before any byte read
        keep = self._zone_keeper() if partition.ids is None else None
        for pdf in decode_frames(
            ZarrStore(self.root, self.version), self.outputs, self._box(),
            (1,) * self.meta.ndim, partition.coords_iter(), keep,
            self.value_col, self._value_filters, self._dim_in,
        ):
            yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)


class MdioAlignedReader(MdioReader):
    """``option("variables", "a,b,hdr.ck")`` — the fused aligned scan
    through DSv2: one task decodes EVERY listed variable's chunk at the
    same coords and emits wide rows, so multi-variable alignment costs no
    join and no shuffle (sources/reader.scan_arrays' plan, reachable from
    plain ``spark.read``/SQL). Dimension pushdown (bounds + In) applies
    unchanged; value-column predicates stay with Spark (the columns are
    per-variable, not the single pushable ``value`` column)."""

    def __init__(self, store: ZarrStore, outputs, options, parallelism: int | None = None):
        super().__init__(store, outputs[0][0], options, parallelism)
        self.outputs = outputs
        # the inherited pushFilters consumes predicates on `self.value_col`,
        # but THIS reader has no single value column to apply them to — a
        # variable literally named "value" would silently lose its
        # predicate. Disable value consumption entirely (None never equals
        # a column name); dim bounds/In consumption still applies.
        self.value_col = None


def register(spark) -> None:
    """Register the mdio format on a session (idempotent). Spark plans a
    Python data source's partitions in a separate worker process with no
    active session, so the registered class carries this session's
    defaultParallelism for the task-count rule."""
    spark.dataSource.register(
        type("MdioDataSource", (MdioDataSource,), {"parallelism": cluster_parallelism(spark)})
    )


# ---------------------------------------------------------------- write path


@dataclass
class MdioCommitMessage(WriterCommitMessage):
    """Per-task commit message: which chunks this task wrote (+ fresh zone
    stats when the array is zoned). The driver-side commit cross-checks
    exclusivity and folds the zones in."""

    chunk_ids: list  # linear chunk ids
    zones: dict      # {linear chunk id: zone} (empty when not zoned)


class MdioArrowWriter(DataSourceArrowWriter):
    """``df.write.format("mdio")`` — Arrow-batched chunk-aligned writes.

    Single-writer-per-chunk is the correctness contract (the reference calls
    concurrent unaligned writes UB, USER_GUIDE 'Write'; our shuffle-keyed
    write_arrays guarantees it structurally). The DSv2 path can't impose a
    shuffle on the caller, so it enforces the contract at COMMIT: every
    task reports its chunk keys and the driver rejects the job if any chunk
    was written by two tasks. Use ``repartition_by_chunks`` (below) to make
    any frame compliant first.

    Each task accumulates (offset, value) per chunk across its Arrow
    batches, then RMWs each chunk exactly once at task end — one decode +
    one encode per touched chunk regardless of row order — through
    ``ZarrStore.rewrite_chunk``, the read-modify-write every writer shares.
    The commit folds the tasks' zones through ``zonemap.fold_zones``; it
    republishes no metadata."""

    def __init__(self, root: str, version: int, var: str, value_col: str):
        self.root, self.version, self.var, self.value_col = root, version, var, value_col

    def write(self, iterator: Iterator[pa.RecordBatch]) -> MdioCommitMessage:
        store = ZarrStore(self.root, self.version)
        meta = store.array_meta(self.var)
        if meta.is_struct or meta.np_dtype.kind == "c":
            raise ValueError("format('mdio') writes scalar arrays; use write_arrays for struct/complex")
        dims = _dim_names(meta)
        strides = []
        acc = 1
        for c in reversed(meta.chunks):
            strides.append(acc)
            acc *= int(c)
        strides = list(reversed(strides))
        n_cells = int(np.prod(meta.chunks))
        per_chunk: dict[tuple, list] = {}
        for batch in iterator:
            cols = {name: batch.column(i).to_numpy(zero_copy_only=False)
                    for i, name in enumerate(batch.schema.names)}
            idx = [cols[d].astype(np.int64) for d in dims]
            for d, i in enumerate(idx):  # else the row lands in another chunk's cell
                if len(i) and (i.min() < 0 or i.max() >= meta.shape[d]):
                    raise ValueError(
                        f"row outside array domain {tuple(meta.shape)}: {dims[d]!r} "
                        f"spans [{i.min()}, {i.max()}]")
            vals = cols[self.value_col]
            ckey = np.zeros(len(vals), dtype=np.int64)
            off = np.zeros(len(vals), dtype=np.int64)
            mult = 1
            grid = meta.grid_shape()
            for d in reversed(range(meta.ndim)):
                ckey += (idx[d] // meta.chunks[d]) * mult
                mult *= grid[d]
                off += (idx[d] % meta.chunks[d]) * strides[d]
            for k in np.unique(ckey):
                m = ckey == k
                per_chunk.setdefault(int(k), []).append((off[m], vals[m]))
        zones = {}
        zoned = _zonemap.is_zoned(meta)
        grid = meta.grid_shape()
        for linear, parts in per_chunk.items():
            coords = tuple(int(c) for c in np.unravel_index(linear, grid))

            def patch(block: np.ndarray) -> None:
                flat = block.reshape(-1)
                for off, vals in parts:
                    if len(off) and (off.min() < 0 or off.max() >= n_cells):
                        raise ValueError(f"row outside chunk {coords}")
                    flat[off] = vals.astype(meta.np_dtype, copy=False)

            block = store.rewrite_chunk(meta, coords, patch)
            if zoned:
                zones[linear] = chunk_zone(meta, coords, block)
        return MdioCommitMessage(chunk_ids=list(per_chunk), zones=zones)

    def commit(self, messages) -> None:
        from collections import Counter

        counts = Counter(k for m in messages if m for k in m.chunk_ids)
        dupes = sorted(k for k, n in counts.items() if n > 1)
        if dupes:
            grid = ZarrStore(self.root, self.version).array_meta(self.var).grid_shape()
            coords = [tuple(int(c) for c in np.unravel_index(k, grid)) for k in dupes[:5]]
            raise RuntimeError(
                f"chunk(s) {coords} written by multiple tasks — the input "
                "frame was not chunk-partitioned; use repartition_by_chunks() "
                "before .write.format('mdio') (concurrent unaligned writes "
                "are UB in the reference too, USER_GUIDE 'Write')"
            )
        zones = {}
        for m in messages:
            if m:
                zones.update(m.zones)
        # commit messages are already driver-resident (the DSv2 commit
        # contract), so the zones fold here
        _zonemap.fold_zones(ZarrStore(self.root, self.version), {self.var: zones})

    def abort(self, messages) -> None:  # chunks are atomic (tmp+rename); a
        pass  # partial job leaves prior data intact for untouched chunks


def repartition_by_chunks(df, root: str, var: str):
    """Make a long-form frame DSv2-write-compliant: hash-repartition on the
    chunk id so each chunk lands in exactly one task (the same key
    write_arrays shuffles on)."""
    from pyspark.sql import functions as F

    meta = ZarrStore.open(root).array_meta(var)
    dims = _dim_names(meta)
    key = None
    for d, dim in enumerate(dims):
        term = F.expr(f"{dim} div {int(meta.chunks[d])}")
        key = term if key is None else key * int(meta.grid_shape()[d]) + term
    return df.repartition(key.alias("__chunk"))


class MdioStreamArrowWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("mdio")`` — the DSv2 streaming sink.

    Spark restricts Python streaming sinks to APPEND output mode (update is
    rejected JVM-side, complete is rejected by our overwrite guard), so
    aggregate rollups land via foreachBatch + the batch writer instead
    (streaming/ingest.py — same single-owner RMW argument per micro-batch).

    Per micro-batch the semantics are exactly MdioArrowWriter's (per-task
    chunk accumulation, one RMW per touched chunk, exclusivity checked in
    ``commit``); micro-batches are serialized by the engine, so cross-batch
    chunk conflicts cannot race, and a checkpoint-replayed batch rewrites
    the same cells with the same values (idempotent upsert — the
    foreachBatch sink in streaming/ingest.py makes the same argument).
    Within a batch the stream must be chunk-partitioned like the batch
    path; commit rejects violations per micro-batch."""

    def __init__(self, root: str, version: int, var: str, value_col: str):
        self._delegate = MdioArrowWriter(root, version, var, value_col)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> "MdioCommitMessage":
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._delegate.commit(messages)

    def abort(self, messages, batchId: int) -> None:
        self._delegate.abort(messages)


# ---------------------------------------------------------------- stream read

@dataclass
class MdioTailPartition(InputPartition):
    """One chunk-aligned slice [lo, hi) of the append dimension."""
    lo: int
    hi: int


class MdioStreamReader(DataSourceStreamReader):
    """``readStream.format("mdio")`` — tail a GROWING 1-D store.

    The streaming inverse of the append workflow (zarr26 / utils/resize.py
    grow_dataset): producers extend the array and write new cells; each
    micro-batch emits exactly the cells appended since the last committed
    offset, through chunk-aligned partitions (same decode machinery and
    parallelism as the batch scan). Replay after a checkpoint restart
    re-reads the same half-open cell range — exactly-once as long as
    emitted cells are immutable.

    THE FRONTIER. The append protocol must publish the new shape BEFORE
    writing the cells (the writer bounds-checks against the shape), so
    "shape" alone can run ahead of the data: a trigger landing between
    grow and write would emit fill values for in-flight cells and never
    revisit them. Producers that need the stronger guarantee publish a
    watermark AFTER the cells land (``patch_array_attrs`` MERGES — using
    the wholesale-replace ``update_array_attrs`` here would silently drop
    the array's other attrs, e.g. the zone-map marker)::

        store.patch_array_attrs(var, {"frontier": n_written})
        store.consolidate()

    When the array carries a ``frontier`` attribute the stream never reads
    past ``min(shape, frontier)``; without it the shape is the frontier and
    the grow→write window is the producer's responsibility (the caveat is
    inherent to shape-first publication, not to this reader).

    Options: ``starting_offset`` = ``earliest`` (default) | ``latest``
    (skip the existing array and tail only future appends — the cold-start
    answer for a petascale store); ``max_cells_per_trigger`` caps each
    micro-batch once a baseline offset is known (the engine may probe
    ``latestOffset`` before ``initialOffset``, and capping without a
    baseline could regress a restored checkpoint — so the FIRST batch of a
    query run is uncapped and every subsequent one is bounded; bound the
    cold start itself with ``starting_offset=latest``); ``fields`` /
    ``value_col`` as on the batch reader.

    N-D stores append along ONE nominated dimension (``append_dim``
    option, default the first dimension): the frontier is the store's
    length along that dimension, each micro-batch emits the newly
    appended SLABS — the full extent of every other dimension crossed
    with the new append-dim range — and partitions stay chunk-aligned
    along the append dimension (a task may decode several chunks across
    the other dimensions, but no two tasks share a chunk). That is the
    reference's resize model exactly: per-dimension metadata growth
    (utils/trim.h's inverse), rows land per-slab.
    """

    def __init__(self, root: str, version: int, var: str, options, parallelism: int | None = None):
        self.root = root
        self.version = version
        self.var = var
        self.value_col = options.get("value_col", "value")
        meta = ZarrStore(root, version).array_meta(var)
        self.dims = _dim_names(meta)
        append_dim = options.get("append_dim") or self.dims[0]
        if append_dim not in self.dims:
            raise ValueError(
                f"append_dim {append_dim!r} is not a dimension of {var!r} "
                f"(has {self.dims})"
            )
        self.axis = self.dims.index(append_dim)
        fields = options.get("fields")
        self.fields = fields.split(",") if fields else None
        self.chunk = int(meta.chunks[self.axis])
        # decoded bytes of one chunk-deep slab across every other dimension
        self.slab_bytes = chunk_bytes([meta]) * int(np.prod(np.delete(meta.grid_shape(), self.axis)))
        self.parallelism = parallelism or cluster_parallelism()
        self.start_latest = options.get("starting_offset", "earliest") == "latest"
        cap = options.get("max_cells_per_trigger")
        self.max_cells = int(cap) if cap else None
        self._last_end: int | None = None

    # ------------------------------------------------------------- offsets

    def _frontier(self) -> int:
        # ONE fresh consolidated-metadata read: the append-dim length is
        # the high-water mark, clamped by the producer's post-write
        # watermark when present
        meta = ZarrStore(self.root, self.version).array_meta(self.var)
        n = int(meta.shape[self.axis])
        frontier = meta.attrs.get("frontier")
        return min(n, int(frontier)) if frontier is not None else n

    def initialOffset(self) -> dict:
        start = self._frontier() if self.start_latest else 0
        self._last_end = start
        return {"cell": start}

    def latestOffset(self) -> dict:
        # stateless w.r.t. repeated calls within one trigger (the engine may
        # probe more than once); the cap keys off the last KNOWN baseline
        # (initialOffset, a planned batch start, or a commit) and is never
        # applied without one — a blind cap could fall below a restored
        # checkpoint and regress it
        end = self._frontier()
        if self.max_cells is not None and self._last_end is not None:
            end = max(min(end, self._last_end + self.max_cells), self._last_end)
        return {"cell": end}

    def partitions(self, start: dict, end: dict) -> list[MdioTailPartition]:
        lo, hi = int(start["cell"]), int(end["cell"])
        # the engine's batch start is an authoritative baseline for the cap
        if self._last_end is None or lo > self._last_end:
            self._last_end = lo
        # spans of whole chunk slabs: every interior split point is a chunk
        # boundary, so no two tasks decode the same chunk; an empty batch is
        # one empty partition (read yields nothing)
        c, first = self.chunk, lo // self.chunk
        return [
            MdioTailPartition(max(lo, (first + a) * c), min(hi, (first + b) * c))
            for a, b in task_spans(-(-hi // c) - first, self.slab_bytes, self.parallelism)
        ] or [MdioTailPartition(lo, lo)]

    # ------------------------------------------------------------- execute

    def read(self, partition: MdioTailPartition) -> Iterator[pa.RecordBatch]:
        if partition.hi <= partition.lo:
            return
        store = ZarrStore(self.root, self.version)
        meta = store.array_meta(self.var)
        # box: the new append-dim slab crossed with every other dim's full
        # extent; chunk coords iterate the product of per-dim chunk ranges
        box = tuple(
            (partition.lo, partition.hi) if d == self.axis
            else (0, int(meta.shape[d]))
            for d in range(meta.ndim)
        )
        for pdf in decode_frames(
            store, [(meta, _picks(meta, self.fields, self.value_col))], box,
            (1,) * meta.ndim, itertools.product(*plan_grid(meta, box)),
        ):
            yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)

    def commit(self, end: dict) -> None:
        self._last_end = int(end["cell"])
