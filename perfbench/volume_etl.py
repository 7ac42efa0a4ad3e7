"""volume_etl: the SEG-Y -> MDIO -> stats -> scans -> SEG-Y loop on Spark.

Setup writes a rev1 SEG-Y file (IBM floats, inline/crossline at bytes
189/193) of 32x32 traces of 256 samples. Every sample is an integer, so it
is exact in IBM float and every sum below is exact in float64. A bright
spot in a seed-chosen corner holds the only samples at or above
``THRESHOLD``, so the zone map can prune the value-filtered scan. Each
pass runs, in order:

1. ``segy.ingest_to_store`` onto a (inline, crossline, sample) cube in
   16x16x128 chunks, blosc-lz4 (the reference's default codec);
2. ``zonemap.build_sidecar_stats``;
3. full-volume count/sum/sum-of-squares/min/max through ``to_df``;
4. a dim-box scan through ``format("mdio")``;
5. a value-filtered scan through ``format("mdio")``;
6. ``segy.export_segy`` back to a file.

Stats and scan results are checked against numpy; the exported file must
equal the synthesized one byte for byte. The warm-up runs the whole list
once, checked like the timed passes.

The time figures take each op's median over the run's passes and add
those up, so a slow moment in one op of a pass does not move the others.
"""

from __future__ import annotations

import os
import shutil
import struct
import time

import numpy as np

from common import Outcome, median, run_passes, store_bytes_ratio, tree_peak_rss_mb
from layers import scan_chunks

N_IL, N_XL, NS = 32, 32, 256
CHUNKS = (16, 16, 128)
BLOSC_LZ4 = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}
THRESHOLD = 3000.0
INTERVAL_US = 4000
TEXT = "C 1 exported by mdio-spark"
READS = ("stats", "box", "filter")


def make_cube(seed: int) -> np.ndarray:
    n_il, n_xl, ns = N_IL, N_XL, NS
    rng = np.random.default_rng([seed, 3])
    t = np.arange(ns)
    base = np.zeros((n_il, n_xl, ns))
    for _ in range(6):
        f, ph = rng.uniform(0.01, 0.08), rng.uniform(0, 2 * np.pi)
        ai, ax = rng.uniform(-0.1, 0.1, 2)
        i = np.arange(n_il)[:, None, None]
        x = np.arange(n_xl)[None, :, None]
        base += 300 * np.sin(2 * np.pi * f * t[None, None, :] + ai * i + ax * x + ph)
    base += rng.normal(0, 50, base.shape)
    cube = np.clip(np.rint(base), -2000, 2000)
    # bright spot: the only cells at or above THRESHOLD
    ci, cx = rng.integers(0, 2, 2)
    si = slice(0, n_il // 4) if ci == 0 else slice(n_il - n_il // 4, n_il)
    sx = slice(0, n_xl // 4) if cx == 0 else slice(n_xl - n_xl // 4, n_xl)
    st = slice(ns // 4, ns // 4 + ns // 8)
    cube[si, sx, st] = THRESHOLD + rng.integers(0, 1000, cube[si, sx, st].shape)
    return cube


def write_segy(path: str, cube: np.ndarray) -> None:
    """A rev1 file laid out exactly as ``export_segy`` writes one, so the
    round trip can be compared byte for byte."""
    from mdio_cpp_spark.sources.segy import ieee_to_ibm

    n_il, n_xl, ns = cube.shape
    txt = (TEXT.ljust(80)[:80] + " " * 80 * 39)[:3200].encode("cp037")
    bh = bytearray(400)
    struct.pack_into(">h", bh, 16, INTERVAL_US)
    struct.pack_into(">h", bh, 20, ns)
    struct.pack_into(">h", bh, 24, 1)
    struct.pack_into(">h", bh, 300, 0x0100)
    struct.pack_into(">h", bh, 302, 1)
    n = n_il * n_xl
    th = np.zeros((n, 240), dtype=np.uint8)
    t = np.arange(n)
    th[:, 0:4] = (t + 1).astype(">i4").view(np.uint8).reshape(n, 4)
    th[:, 114:116] = np.full(n, ns, ">i2").view(np.uint8).reshape(n, 2)
    th[:, 116:118] = np.full(n, INTERVAL_US, ">i2").view(np.uint8).reshape(n, 2)
    th[:, 188:192] = (100 + t // n_xl).astype(">i4").view(np.uint8).reshape(n, 4)
    th[:, 192:196] = (500 + t % n_xl).astype(">i4").view(np.uint8).reshape(n, 4)
    samples = ieee_to_ibm(cube.reshape(n, ns)).astype(">u4").view(np.uint8).reshape(n, 4 * ns)
    with open(path, "wb") as f:
        f.write(txt)
        f.write(bh)
        f.write(np.concatenate([th, samples], axis=1).tobytes())


class Loop:
    """One client running the ETL op list against one SEG-Y file."""

    def __init__(self, spark, tracer, work, sgy: str, cube: np.ndarray):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.sgy, self.cube = sgy, cube
        with open(sgy, "rb") as f:
            self.sgy_bytes = f.read()
        n_il, n_xl, _ = cube.shape
        self.box = ((n_il // 8, n_il // 2), (n_xl // 4, 3 * n_xl // 4))
        (i0, i1), (x0, x1) = self.box
        boxed, bright = cube[i0:i1, x0:x1], cube[cube >= THRESHOLD]
        self.want = {
            "stats": (cube.size, cube.sum(), (cube * cube).sum(), cube.min(), cube.max()),
            "box": (boxed.size, boxed.sum()),
            "filter": (bright.size, bright.sum()),
        }
        self.root = None
        self.scans = {}

    def run(self, op: str, k: int) -> bool:
        from pyspark.sql import functions as F

        from mdio_cpp_spark.model import MdioDataset
        from mdio_cpp_spark.sources import segy, zonemap

        cube, spark, span = self.cube, self.spark, self.tracer.span
        if op == "ingest":
            if self.root:
                shutil.rmtree(self.root, ignore_errors=True)
            self.root = self.work.sub(f"survey-{k}.mdio")
            rep = segy.ingest_to_store(spark, self.sgy, self.root, grid_by=("inline", "crossline"),
                                       chunks=CHUNKS, compressor=BLOSC_LZ4)
            return rep["shape"] == list(cube.shape)
        if op == "zonemap":
            info = zonemap.build_sidecar_stats(spark, self.root, "amplitude")
            want = int(np.prod([-(-s // c) for s, c in zip(cube.shape, CHUNKS)]))
            return info["nchunks"] == want
        if op == "stats":
            v = F.col("v")
            df = MdioDataset.open(self.root).var("amplitude").to_df(spark, value_col="v")
            with span("reader.exec"):
                row = df.agg(F.count(v), F.sum(v), F.sum(v * v), F.min(v), F.max(v)).collect()[0]
            return tuple(float(x) for x in row) == tuple(float(x) for x in self.want[op])
        if op in ("box", "filter"):
            with span("datasource.plan"):
                df = (spark.read.format("mdio").option("path", self.root)
                      .option("variable", "amplitude").load())
            if op == "box":
                (i0, i1), (x0, x1) = self.box
                df = df.filter(F.col("inline").between(i0, i1 - 1)
                               & F.col("crossline").between(x0, x1 - 1))
            else:
                df = df.filter(F.col("value") >= THRESHOLD)
            df = df.agg(F.count(F.lit(1)), F.sum("value"))
            with span("datasource.exec"):
                row = df.collect()[0]
            self.scans[op] = df
            return tuple(float(x) for x in row) == tuple(float(x) for x in self.want[op])
        out = self.work.sub(f"export-{k}.sgy")
        segy.export_segy(spark, self.root, "amplitude", out, fmt=1, text=TEXT)
        with open(out, "rb") as f:
            ok = f.read() == self.sgy_bytes
        os.remove(out)
        return ok


OPS = ("ingest", "zonemap", "stats", "box", "filter", "export")


def run(ctx) -> dict:
    from common import start_spark, stop_spark
    from spans import SparkGroups

    spark = start_spark(ctx.root, ctx.work)
    try:
        return _run(ctx, spark, SparkGroups(spark))
    finally:
        stop_spark(spark)


def _run(ctx, spark, groups) -> dict:
    from mdio_cpp_spark.sources.datasource import register

    register(spark)
    out = Outcome()
    gids: dict[str, str] = {}

    def attempt(loop: Loop, op: str, k: int) -> float:
        ctx.tracer.op += 1
        t = time.perf_counter()
        try:
            with groups.group(op) as gid:
                gids[op] = gid
                ok, what = loop.run(op, k), op
        except Exception as e:  # a failed op counts; the loop goes on
            ok, what = False, f"{op}: {e!r}"[:300]
        dt = time.perf_counter() - t
        out.record(ok, f"pass {k} {what}")
        return dt

    cube = make_cube(ctx.seed)
    write_segy(ctx.work.sub("survey.sgy"), cube)
    loop = Loop(spark, ctx.tracer, ctx.work, ctx.work.sub("survey.sgy"), cube)
    # warm-up (pass 0): the whole op list once, checked like the timed ops,
    # so the first timed pass pays no Python-worker start or first JIT cost
    for op in OPS:
        attempt(loop, op, 0)
    setup_s = time.perf_counter() - ctx.t0

    times: dict[str, list[float]] = {op: [] for op in OPS}

    def one_pass(k: int) -> None:
        for op in OPS:
            times[op].append(attempt(loop, op, k))

    def after_traced(k: int) -> None:
        c = ctx.tracer.counts
        groups.drain()
        c["segy.ingest_jobs"], c["segy.ingest_stages"], c["segy.ingest_tasks"] = (
            groups.counts(gids["ingest"]))
        c["segy.export_tasks"] = groups.counts(gids["export"])[2]
        c["reader.jobs"], _, c["reader.tasks"] = groups.counts(gids["stats"])
        c["datasource.tasks"] = sum(groups.counts(gids[op])[2] for op in ("box", "filter"))
        layer_probes(loop, c)

    passes, traced, layers = run_passes(ctx, one_pass, after_traced)
    rss = tree_peak_rss_mb()
    typical = {op: median(times[op]) for op in OPS}
    read_s = sum(typical[op] for op in READS)
    write_s = sum(typical[op] for op in OPS if op not in READS)
    return {
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": read_s + write_s,
            "read_ms": 1e3 * read_s,
            "write_ms": 1e3 * write_s,
            "scan_mcells_s": sum(loop.want[op][0] for op in READS) / read_s / 1e6,
            "store_bytes_ratio": store_bytes_ratio(loop.root),
            "peak_rss_mb": rss,
        },
        "pass_s": passes,
        "traced_pass_s": traced,
        "extras": {
            "ingest_mcells_s": (cube.size / typical["ingest"] / 1e6, "Mcells/s"),
            **{f"{op}_s": (typical[op], "s") for op in OPS},
            "median_pass_s": (median(passes), "s"),
            "passes": (len(passes) + len(traced), "count"),
        },
        "layers": layers,
        "outcome": out,
    }


def layer_probes(loop: Loop, counts) -> None:
    """Figures of the layers that run inside Spark's Python workers, where
    wrappers do not reach: the chunks the value-filtered scan planned and
    kept, and the lz4 and IBM-float kernels timed on the driver over this
    workload's own bytes."""
    from mdio_cpp_spark.sources import codecs, segy
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    planned, kept = scan_chunks(loop.scans["filter"])
    counts["zonemap.chunks_planned"] = planned
    counts["zonemap.chunks_pruned"] = planned - kept

    st = ZarrStore.open(loop.root)
    meta = st.array_meta("amplitude")
    blobs = [st.read_bytes(meta.chunk_key(c)) for c in np.ndindex(*meta.grid_shape())]
    t = time.perf_counter()
    raws = [codecs.decompress_v2(b, meta.compressor) for b in blobs]
    dec = time.perf_counter() - t
    t = time.perf_counter()
    for raw in raws:
        codecs.compress_v2(raw, meta.compressor)
    enc = time.perf_counter() - t
    mb = sum(len(r) for r in raws) / 1e6
    counts["codecs.lz4_decode_mb_s"] = mb / dec
    counts["codecs.lz4_encode_mb_s"] = mb / enc

    words = np.frombuffer(loop.sgy_bytes, dtype=">u4", offset=3600).reshape(
        -1, 60 + loop.cube.shape[2])[:, 60:]
    t = time.perf_counter()
    segy.ibm_to_ieee(words)
    counts["segy.ibm_decode_mb_s"] = words.nbytes / 1e6 / (time.perf_counter() - t)
