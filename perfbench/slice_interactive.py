"""slice_interactive: one client slicing a survey on the driver.

A synthetic band-limited float32 cube (inline, crossline, time) of
128x128x256 cells in 32x32x64 chunks, zlib level 5 (the engine's default
codec), with 1-D coordinate arrays for each dimension and a trace-header
struct variable on the (inline, crossline) grid. Each pass opens the
dataset and runs a fixed list of 60 ops drawn from the seed: 54 reads
(inlines, crosslines, time slices, sub-boxes, value-addressed ``sel`` and
header boxes) and 6 unaligned patch writes, each followed by an attribute
commit. Each op kind has a fixed shape and a fixed number of chunks it
touches, so the seed moves the work but does not change its amount. Three
quarters of positions start in a hot chunk per axis, chosen by the seed.
Every read is compared bit for bit with a numpy mirror that each patch
write updates. No Spark session is started.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import time

import numpy as np

from common import (Outcome, median, run_passes, store_bytes_ratio, tail_percentile,
                    tree_peak_rss_mb)

SHAPE = (128, 128, 256)
CHUNKS = (32, 32, 64)
HEADER_CHUNKS = (32, 32)
ZLIB = {"id": "zlib", "level": 5}
HOT_SHARE = 0.75
READS_PER_PASS = {"inline": 10, "crossline": 10, "time": 8, "box": 10, "sel": 8, "headers": 8}
WRITES_PER_PASS = 6
PATCH = (8, 8, 32)
SETUPS = 3


def make_data(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    spec = np.fft.rfftn(rng.standard_normal(SHAPE))
    fi = np.abs(np.fft.fftfreq(SHAPE[0]))[:, None, None]
    fx = np.abs(np.fft.fftfreq(SHAPE[1]))[None, :, None]
    ft = np.fft.rfftfreq(SHAPE[2])[None, None, :]
    spec[(fi > 0.15) | (fx > 0.15) | (ft > 0.2)] = 0
    cube = np.fft.irfftn(spec, s=SHAPE).astype(np.float32)
    il = (1000 + 2 * np.arange(SHAPE[0])).astype(np.int32)
    xl = (2000 + np.arange(SHAPE[1])).astype(np.int32)
    tm = (4 * np.arange(SHAPE[2])).astype(np.int32)
    heads = np.zeros(SHAPE[:2], dtype=[("cdp_x", "<i4"), ("cdp_y", "<i4")])
    heads["cdp_x"] = 500_000 + 25 * il[:, None] + rng.integers(0, 5, SHAPE[:2])
    heads["cdp_y"] = 6_000_000 + 25 * xl[None, :] + rng.integers(0, 5, SHAPE[:2])
    return {"amplitude": cube, "inline": il, "crossline": xl, "time": tm, "headers": heads}


def build_store(path: str, data: dict[str, np.ndarray]) -> None:
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    st = ZarrStore.create(path, version=2, attrs={"survey": "perfbench"})
    dims = ("inline", "crossline", "time")
    st.create_array("amplitude", SHAPE, CHUNKS, "float32", dims=dims,
                    compressor=ZLIB, attrs={"coordinates": "inline crossline time"})
    for d, n in zip(dims, SHAPE):
        st.create_array(d, (n,), (n,), "int32", dims=(d,), compressor=ZLIB)
    st.create_array("headers", SHAPE[:2], HEADER_CHUNKS,
                    {"fields": [{"name": "cdp_x", "format": "int32"},
                                {"name": "cdp_y", "format": "int32"}]},
                    dims=dims[:2], compressor=ZLIB)
    for name, arr in data.items():
        st.write_array_numpy(name, arr)
    st.consolidate()


def make_ops(seed: int) -> list[tuple]:
    """The fixed op list of one pass in a seed-shuffled order. The seed
    picks positions; each op kind always touches the same number of chunks
    (FOOTPRINT), so every seed does the same work."""
    rng = np.random.default_rng([seed, 1])
    grid = [s // c for s, c in zip(SHAPE, CHUNKS)]
    hot = [int(rng.integers(0, g - 1)) for g in grid]

    def span(axis: int, size: int, n: int) -> tuple[int, int]:
        """``size`` cells along ``axis`` lying over exactly ``n`` chunks;
        the first chunk is the hot one with probability HOT_SHARE."""
        c_len = CHUNKS[axis]
        c = hot[axis] if rng.random() < HOT_SHARE else int(rng.integers(0, grid[axis] - n + 1))
        lo = c * c_len + max(0, (n - 1) * c_len - size + 1)
        hi = min(c * c_len + c_len - 1, (c + n) * c_len - size)
        start = int(rng.integers(lo, hi + 1))
        return start, start + size

    ops: list[tuple] = []
    for kind, n in READS_PER_PASS.items():
        for _ in range(n):
            if kind in ("inline", "crossline", "time"):
                ops.append((kind, span(("inline", "crossline", "time").index(kind), 1, 1)[0]))
            elif kind == "box":
                ops.append(("box", span(0, 24, 2), span(1, 24, 2), span(2, 48, 1)))
            elif kind == "sel":
                ops.append(("sel", span(0, 1, 1)[0], span(1, 40, 2)))
            else:
                ops.append(("headers", span(0, 48, 2), span(1, 48, 2)))
    for _ in range(WRITES_PER_PASS):
        ops.append(("patch", (span(0, PATCH[0], 1)[0], span(1, PATCH[1], 2)[0],
                              span(2, PATCH[2], 1)[0])))
    order = rng.permutation(len(ops))
    return [ops[i] for i in order]


class Session:
    """The client: an open dataset plus the numpy mirror it is checked
    against."""

    def __init__(self, path: str, data: dict[str, np.ndarray], seed: int):
        self.path = path
        self.seed = seed
        self.mirror = {k: v.copy() for k, v in data.items()}
        self.il = data["inline"]
        self.xl = data["crossline"]
        self.ds = None

    def open(self) -> None:
        from mdio_cpp_spark.model import MdioDataset

        self.ds = MdioDataset.open(self.path)

    def run(self, op: tuple, tag: tuple[int, int]) -> tuple[bool, int]:
        """Run one op; (whether its result or write checks out, cells
        returned or written)."""
        kind, ds, m = op[0], self.ds, self.mirror["amplitude"]
        if kind == "inline":
            got = ds.isel(inline=(op[1], op[1] + 1)).var("amplitude").read()
            want = m[op[1]:op[1] + 1]
        elif kind == "crossline":
            got = ds.isel(crossline=(op[1], op[1] + 1)).var("amplitude").read()
            want = m[:, op[1]:op[1] + 1]
        elif kind == "time":
            got = ds.isel(time=(op[1], op[1] + 1)).var("amplitude").read()
            want = m[:, :, op[1]:op[1] + 1]
        elif kind == "box":
            (i0, i1), (x0, x1), (t0, t1) = op[1:]
            got = ds.isel(inline=(i0, i1), crossline=(x0, x1), time=(t0, t1)).var("amplitude").read()
            want = m[i0:i1, x0:x1, t0:t1]
        elif kind == "sel":
            i, (x0, x1) = op[1], op[2]
            got = ds.sel(inline=int(self.il[i]),
                         crossline=(int(self.xl[x0]), int(self.xl[x1 - 1]))).var("amplitude").read()
            want = m[i:i + 1, x0:x1]
        elif kind == "headers":
            (i0, i1), (x0, x1) = op[1:]
            got = ds.isel(inline=(i0, i1), crossline=(x0, x1)).var("headers").read()
            want = self.mirror["headers"][i0:i1, x0:x1]
        else:
            return self.patch(op[1], tag), int(np.prod(PATCH))
        same = got.shape == want.shape and got.dtype == want.dtype and got.tobytes() == want.tobytes()
        return same, got.size

    def patch(self, origin: tuple[int, int, int], tag: tuple[int, int]) -> bool:
        rng = np.random.default_rng([self.seed, 2, *tag])
        block = rng.standard_normal(PATCH).astype(np.float32)
        self.ds.store.write_array_numpy("amplitude", block, origin)
        self.ds.update_attrs("amplitude", last_patch=list(tag))
        self.ds.commit_metadata()
        sl = tuple(slice(o, o + s) for o, s in zip(origin, PATCH))
        self.mirror["amplitude"][sl] = block
        return self.ds.var("amplitude").attrs.get("last_patch") == list(tag)


def start_s(root: str) -> float:
    """Wall time of a fresh interpreter that imports the engine's driver
    side: the part of the set-up that happens before any data exists."""
    t = time.perf_counter()
    subprocess.run([sys.executable, "-c", "import mdio_cpp_spark.model"], cwd=root, check=True)
    return time.perf_counter() - t


def run(ctx) -> dict:
    path = ctx.work.sub("survey.mdio")
    ops = make_ops(ctx.seed)
    out = Outcome()
    client = None

    def attempt(op: tuple, tag: tuple[int, int]) -> tuple[float, int]:
        ctx.tracer.op += 1
        t = time.perf_counter()
        try:
            (ok, cells), what = client.run(op, tag), op
        except Exception as e:  # a failed op counts; the loop goes on
            ok, cells, what = False, 0, (*op, repr(e))
        dt = time.perf_counter() - t
        out.record(ok, f"pass {tag[0]} op {tag[1]} {what}")
        return dt, cells

    # The set-up runs SETUPS times, and setup_s is the median interpreter
    # start plus the median in-process set-up: data, store build, open and a
    # warm-up pass 0 that runs every op kind once, checked like the timed
    # ops. A single interpreter start varies by a third from run to run on a
    # shared host. The last set-up's store and client are used.
    starts = [start_s(ctx.root) for _ in range(SETUPS)]
    setups = []
    for _ in range(SETUPS):
        t = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        data = make_data(ctx.seed)
        build_store(path, data)
        client = Session(path, data, ctx.seed)
        client.open()
        seen = set()
        for j, op in enumerate(ops):
            if op[0] not in seen:
                seen.add(op[0])
                attempt(op, (0, j))
        setups.append(time.perf_counter() - t)
    setup_s = median(starts) + median(setups)

    reads, writes, read_cells = [], [], []

    def one_pass(k: int) -> None:
        client.open()
        for j, op in enumerate(ops):
            dt, cells = attempt(op, (k, j))
            if op[0] == "patch":
                writes.append(dt)
            else:
                reads.append(dt)
                read_cells.append(cells)

    passes, traced, layers = run_passes(ctx, one_pass)
    return {
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": median(passes),
            "read_ms": 1e3 * median(reads),
            "write_ms": 1e3 * median(writes),
            "scan_mcells_s": sum(read_cells) / sum(reads) / 1e6,
            "store_bytes_ratio": store_bytes_ratio(path),
            "peak_rss_mb": tree_peak_rss_mb(),
        },
        "pass_s": passes,
        "traced_pass_s": traced,
        "extras": {
            "read_p90_ms": (tail_percentile([1e3 * r for r in reads], 90), "ms"),
            "read_samples": (len(reads), "count"),
            "passes": (len(passes) + len(traced), "count"),
        },
        "layers": layers,
        "outcome": out,
    }
