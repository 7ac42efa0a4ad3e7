"""The per-layer view of a traced pass.

``install`` wraps the public functions of the engine's layers at the
attribute their callers look them up by; ``metrics`` turns the spans and
counts of one traced pass into the per-layer figures BENCHMARK.json lists.
The same wrappers go into every workload, so a layer a workload does not
reach reads 0 there.
"""

from __future__ import annotations

import math
import pickle

# figures the workloads put into ``tracer.counts`` themselves: Spark's job
# group counts and the chunk plan of the value-filtered scan
COUNTED = (
    "segy.ingest_jobs", "segy.ingest_stages", "segy.ingest_tasks",
    "segy.export_tasks", "reader.jobs", "reader.tasks", "datasource.tasks",
    "zonemap.chunks_planned", "zonemap.chunks_pruned",
)


def install(tracer) -> None:
    from mdio_cpp_spark import model
    from mdio_cpp_spark.sources import codecs, kvstore, segy, zarr_store, zonemap

    Z = zarr_store.ZarrStore
    tracer.wrap(model.MdioDataset, "open", "model.open")
    tracer.wrap(model.MdioDataset, "isel", "model.select")
    tracer.wrap(model.MdioDataset, "sel", "model.select")
    tracer.wrap(model.MdioVariable, "read", "model.read")
    tracer.wrap(model.MdioDataset, "commit_metadata", "model.commit")

    def returned(args, kwargs, result):
        tracer.count("cells_returned", result.size)

    def decoded(args, kwargs, result):
        tracer.count("chunks_decoded")
        if result is not None:
            tracer.count("cells_decoded", result.size)

    tracer.wrap(Z, "read_array", "zarr_store.read_array", after=returned)
    tracer.wrap(Z, "decode_chunk_box", "zarr_store.decode_chunk_box", after=decoded)
    tracer.wrap(Z, "write_array_numpy", "zarr_store.write")
    tracer.wrap(Z, "write_chunk", "zarr_store.write_chunk",
                after=lambda a, k, r: tracer.count("chunks_rewritten"))
    tracer.wrap(Z, "consolidate", "zarr_store.consolidate")

    def got_bytes(args, kwargs, result):
        data = result[0] if isinstance(result, tuple) else result
        tracer.count("kv_reads")
        tracer.count("kv_bytes_read", len(data) if data is not None else 0)

    def put_bytes(args, kwargs, result):
        tracer.count("kv_writes")
        tracer.count("kv_bytes_written", len(args[2]))

    # only the primitives: read_with_tag and write_if_match do their I/O
    # through read and write, so each byte moved counts once
    L = kvstore.LocalKVStore
    for attr in ("read", "read_range"):
        tracer.wrap(L, attr, "kvstore.read", after=got_bytes)
    tracer.wrap(L, "write", "kvstore.write", after=put_bytes)
    tracer.wrap(codecs, "decompress_v2", "codecs.decode")
    tracer.wrap(codecs, "compress_v2", "codecs.encode")

    # MdioVariable.to_df calls the reader through model's own import
    tracer.wrap(model, "scan_array", "reader.plan")
    tracer.wrap(segy, "ingest_to_store", "segy.ingest")
    tracer.wrap(segy, "export_segy", "segy.export")
    tracer.wrap(zonemap, "build_sidecar_stats", "zonemap.build")


def metrics(tracer, since: int) -> dict[str, float]:
    """Per-layer figures of the spans recorded after ``since`` and of the
    counts gathered since the tracer's counts were last cleared."""
    incl, self_s, calls = tracer.totals(since)
    spans = tracer.spans[since:]
    names = {idx: name for name, _, _, _, _, idx in spans}
    select_s = sum(e - s for name, s, e, parent, _, _ in spans
                   if name == "model.select" and names.get(parent) != "model.select")
    c = tracer.counts
    planned = c["zonemap.chunks_planned"]
    out = {
        "model.select_ms": 1e3 * select_s,
        "zarr_store.read_array_self_ms": 1e3 * (self_s["zarr_store.read_array"]
                                                + self_s["zarr_store.decode_chunk_box"]),
        "zarr_store.chunks_per_read": c["chunks_decoded"] / max(1, calls["zarr_store.read_array"]),
        "zarr_store.useful_cell_ratio": c["cells_returned"] / max(1, c["cells_decoded"]),
        "kvstore.reads": c["kv_reads"],
        "kvstore.read_ms": 1e3 * incl["kvstore.read"],
        "kvstore.bytes_read": c["kv_bytes_read"],
        "kvstore.writes": c["kv_writes"],
        "kvstore.bytes_written": c["kv_bytes_written"],
        "zarr_store.write_self_ms": 1e3 * (self_s["zarr_store.write"]
                                           + self_s["zarr_store.write_chunk"]),
        "zarr_store.chunks_rewritten": c["chunks_rewritten"],
        "zarr_store.consolidate_ms": 1e3 * incl["zarr_store.consolidate"],
        "codecs.decode_ms": 1e3 * incl["codecs.decode"],
        "codecs.encode_ms": 1e3 * incl["codecs.encode"],
        "codecs.lz4_decode_mb_s": c["codecs.lz4_decode_mb_s"],
        "codecs.lz4_encode_mb_s": c["codecs.lz4_encode_mb_s"],
        "segy.ingest_s": incl["segy.ingest"],
        "segy.ibm_decode_mb_s": c["segy.ibm_decode_mb_s"],
        "segy.export_s": incl["segy.export"],
        "zonemap.build_s": incl["zonemap.build"],
        "zonemap.prune_ratio": c["zonemap.chunks_pruned"] / planned if planned else 0.0,
        "reader.plan_ms": 1e3 * incl["reader.plan"],
        "reader.exec_s": incl["reader.exec"],
        "datasource.plan_ms": 1e3 * incl["datasource.plan"],
        "datasource.exec_s": incl["datasource.exec"],
    }
    out.update({name: c[name] for name in COUNTED})
    return out


def scan_chunks(df) -> tuple[int, int]:
    """(chunks planned, chunks kept) by the ``format("mdio")`` scan that
    ``df`` has run. The figures come from the input partitions of its
    executed plan: what the data source's own planning produced from the
    dim box and the value filters Spark pushed to it. ``planned`` counts the
    chunks of the box, ``kept`` those left after zone-map pruning."""

    def walk(node):
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        yield node
        kids = node.children().iterator()
        while kids.hasNext():
            yield from walk(kids.next())

    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    planned = kept = 0
    for node in walk(plan):
        if node.getClass().getSimpleName() != "BatchScanExec":
            continue
        parts = node.inputPartitions().iterator()
        while parts.hasNext():
            part = pickle.loads(bytes(parts.next().pickedPartition()))
            planned = math.prod(part.grid_lens)
            kept += len(part.ids) if part.ids is not None else part.end - part.start
    return planned, kept
