"""Codec throughput, serial and through the chunk pipeline.

Encodes and decodes synthetic chunks with each Zarr v2 compressor the engine
carries — zlib, gzip, and blosc (byte shuffle) with the lz4, blosclz, snappy
and zstd inner codecs, all pure Python apart from zlib/gzip — and reports
MB/s of raw (uncompressed) bytes, once with a plain loop on the calling
thread and once through ``zarr_store.map_chunks``, the bounded thread pool
that driver reads, driver writes and executor scans run their chunks on. The
ratio of the two says which codecs gain from the pool: a codec that releases
the GIL scales with threads, one that holds it does not.

The chunks are generated locally: band-limited float32 traces (a few
sinusoids plus low noise, like migrated seismic), ``--chunk-kib`` each, a
different seed per chunk. Nothing is downloaded and nothing is written.

    python tools/codec_bench.py                  # 8 chunks of 256 KiB, 5 reps
    python tools/codec_bench.py --chunks 16 --reps 3 --codecs zlib,blosc-lz4

Prints one markdown table (median of ``--reps`` timings per cell).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mdio_cpp_spark.sources import codecs  # noqa: E402
from mdio_cpp_spark.sources.zarr_store import _POOL_THREADS, map_chunks  # noqa: E402

CODECS = {
    "zlib": {"id": "zlib", "level": 5},
    "gzip": {"id": "gzip", "level": 5},
    **{
        f"blosc-{cname}": {"id": "blosc", "cname": cname, "clevel": 5,
                           "shuffle": 1, "typesize": 4}
        for cname in ("lz4", "blosclz", "snappy", "zstd")
    },
}


def synthetic_chunks(n: int, kib: int) -> list[bytes]:
    """``n`` float32 chunks of ``kib`` KiB: per chunk, a seeded sum of
    three sinusoids with random periods and phases plus 1% noise."""
    cells = kib * 1024 // 4
    t = np.arange(cells, dtype=np.float64)
    out = []
    for seed in range(n):
        rng = np.random.default_rng(seed)
        sig = sum(
            rng.uniform(0.2, 1.0) * np.sin(2 * np.pi * t / rng.uniform(8, 64) + rng.uniform(0, 6.3))
            for _ in range(3)
        )
        sig += 0.01 * rng.standard_normal(cells)
        out.append(sig.astype("<f4").tobytes())
    return out


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _sha(r: bytes) -> bytes:
    return hashlib.sha256(r * 4).digest()


def warm(raws: list[bytes], seconds: float = 2.0) -> None:
    """Keep every pool thread busy for ``seconds`` with a GIL-free job. On a
    VM whose idle vCPUs have been descheduled by the host, threads start
    running in parallel only after a second or two of sustained demand;
    without this the first map timings read as if the host had one CPU."""
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        list(map_chunks(_sha, raws))


def host_parallelism(raws: list[bytes], reps: int) -> float:
    """map/serial speed-up of a job that releases the GIL and does no I/O
    (SHA-256 of each chunk): the thread parallelism the host gives right
    now. On a shared VM this varies from run to run, so it is printed with
    the table; a codec's map/serial ratio can only be read against it."""
    serial = _median_s(lambda: [_sha(r) for r in raws], reps)
    warm(raws)
    return serial / _median_s(lambda: list(map_chunks(_sha, raws)), reps)


def bench(name: str, raws: list[bytes], reps: int) -> dict:
    comp = CODECS[name]
    mb = sum(len(r) for r in raws) / 1e6
    enc = [codecs.compress_v2(r, comp) for r in raws]
    for r, e in zip(raws, enc):
        if codecs.decompress_v2(e, comp) != r:
            raise AssertionError(f"{name}: round trip differs")

    def encode(r):
        return codecs.compress_v2(r, comp)

    def decode(e):
        return codecs.decompress_v2(e, comp)

    row = {"codec": name, "ratio": sum(map(len, enc)) / (mb * 1e6)}
    for kind, job, items in (("encode", encode, raws), ("decode", decode, enc)):
        row[f"{kind}_serial"] = mb / _median_s(lambda: [job(x) for x in items], reps)
        warm(raws)
        row[f"{kind}_map"] = mb / _median_s(lambda: list(map_chunks(job, items)), reps)
    return row


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--chunks", type=int, default=8, help="chunks per timing (default 8)")
    ap.add_argument("--chunk-kib", type=int, default=256, help="chunk size in KiB (default 256)")
    ap.add_argument("--reps", type=int, default=5, help="timings per cell; the median is kept")
    ap.add_argument("--codecs", default=",".join(CODECS),
                    help=f"comma-separated subset of {', '.join(CODECS)}")
    args = ap.parse_args(argv)
    names = [c for c in args.codecs.split(",") if c]
    unknown = set(names) - set(CODECS)
    if unknown:
        ap.error(f"unknown codec(s): {sorted(unknown)}")
    raws = synthetic_chunks(args.chunks, args.chunk_kib)
    print(f"{args.chunks} float32 chunks of {args.chunk_kib} KiB, median of {args.reps}; "
          f"map = map_chunks on {_POOL_THREADS} pool thread(s) plus the caller; "
          f"{os.cpu_count()} CPUs; "
          f"GIL-free reference (SHA-256) map/serial "
          f"{host_parallelism(raws, args.reps):.2f}×\n")
    print("| codec | compressed/raw | decode serial MB/s | decode map MB/s | decode map/serial "
          "| encode serial MB/s | encode map MB/s | encode map/serial |")
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        r = bench(name, raws, args.reps)
        print(f"| {name} | {r['ratio']:.3f} "
              f"| {r['decode_serial']:.1f} | {r['decode_map']:.1f} "
              f"| {r['decode_map'] / r['decode_serial']:.2f}× "
              f"| {r['encode_serial']:.1f} | {r['encode_map']:.1f} "
              f"| {r['encode_map'] / r['encode_serial']:.2f}× |", flush=True)


if __name__ == "__main__":
    main()
