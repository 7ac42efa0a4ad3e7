"""The process-wide decoded-chunk cache behind ``ZarrStore.decode_chunk``,
and the per-store metadata parse behind ``ZarrStore.arrays``.

A repeated read of an unchanged chunk makes no fetch, no decode and no
chunk-pool job; any change to the chunk object (through this store,
another store, another process, an in-place rewrite, a delete) is seen at
the next read, through the in-process write drop or the
``KVStore.generation`` stamp. The cache stays within its byte cap, hands
out read-only blocks, and a forked child starts with a cache and lock of
its own. The consolidated metadata is parsed once per stamp of its
document, and a change by any writer is seen at the next call."""

from __future__ import annotations

import dataclasses
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from mdio_cpp_spark.sources import zarr_store
from mdio_cpp_spark.sources.zarr_store import ZarrStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BOX = {"a": (0, 32), "b": (0, 32)}


@pytest.fixture(autouse=True)
def fresh_cache(monkeypatch):
    """Each test starts from an empty cache of its own."""
    monkeypatch.setattr(zarr_store, "_CACHE", None)


def _grid(tmp_path, compressor=None) -> tuple[str, ZarrStore, np.ndarray]:
    """A 32x32 float64 array in 8x8 chunks: 16 chunks of 512 B decoded."""
    root = str(tmp_path / "grid.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(32, 32), chunks=(8, 8), dtype="float64",
                    dims=("a", "b"), compressor=compressor)
    vals = np.arange(32 * 32, dtype="f8").reshape(32, 32)
    st.write_array_numpy("v", vals)
    return root, st, vals


def _chunk_reads(st: ZarrStore) -> list[str]:
    """The chunk keys ``st`` reads from here on (metadata reads left out)."""
    reads: list[str] = []
    read = st._kv.read

    def counted(key):
        if not key.rsplit("/", 1)[-1].startswith("."):
            reads.append(key)
        return read(key)

    st._kv.read = counted
    return reads


def test_repeat_read_makes_no_chunk_reads(tmp_path):
    root, st, vals = _grid(tmp_path, {"id": "zlib", "level": 5})
    reads = _chunk_reads(st)
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert len(reads) == 16
    reads.clear()
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert reads == []
    ZarrStore.open(root).write_array_numpy("v", np.full((2, 2), -1.0), origin=(9, 9))
    vals[9:11, 9:11] = -1.0
    assert (st._kv.root, "v/1.1") not in zarr_store._decoded_cache().entries
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert reads == ["v/1.1"]


def _rewrite_same_store(root, st, new):
    st.write_array_numpy("v", new[:8, :8])


def _rewrite_second_store(root, st, new):
    ZarrStore.open(root).write_array_numpy("v", new[:8, :8])


def _rewrite_subprocess(root, st, new):
    code = (
        "import sys, numpy as np\n"
        "from mdio_cpp_spark.sources.zarr_store import ZarrStore\n"
        "ZarrStore.open(sys.argv[1]).write_array_numpy(\n"
        "    'v', np.arange(64, dtype='f8').reshape(8, 8) + 5000.0)\n"
    )
    subprocess.run([sys.executable, "-c", code, root], cwd=REPO, check=True,
                   env={**os.environ, "PYTHONPATH": REPO})


def _rewrite_in_place_same_size(root, st, new):
    # raw chunk bytes (compressor None), written over the same file: the
    # size and the inode stay, only the file times move
    with open(os.path.join(root, "v", "0.0"), "r+b") as f:
        f.write(np.ascontiguousarray(new[:8, :8]).tobytes())


@pytest.mark.parametrize("rewrite", [
    _rewrite_same_store, _rewrite_second_store, _rewrite_subprocess,
    _rewrite_in_place_same_size,
])
def test_read_sees_a_rewritten_chunk(tmp_path, rewrite):
    root, st, vals = _grid(tmp_path)
    assert np.array_equal(st.read_array("v", BOX), vals)
    key = (st._kv.root, "v/0.0")
    assert key in zarr_store._decoded_cache().entries
    new = vals.copy()
    new[:8, :8] = np.arange(64, dtype="f8").reshape(8, 8) + 5000.0
    rewrite(root, st, new)
    assert np.array_equal(st.read_array("v", BOX), new)


def test_read_sees_a_deleted_chunk_as_fill(tmp_path):
    root, st, vals = _grid(tmp_path)
    assert np.array_equal(st.read_array("v", BOX), vals)
    os.remove(os.path.join(root, "v", "0.0"))
    got = st.read_array("v", BOX)
    assert np.isnan(got[:8, :8]).all()
    assert np.array_equal(got[8:], vals[8:])
    assert (st._kv.root, "v/0.0") not in zarr_store._decoded_cache().entries


def test_store_delete_drops_its_entries(tmp_path):
    root, st, vals = _grid(tmp_path)
    st.read_array("v", BOX)
    cache = zarr_store._decoded_cache()
    assert len(cache.entries) == 16
    st.delete()
    assert not cache.entries and cache.nbytes == 0


def test_other_metadata_over_same_objects_is_not_reused(tmp_path):
    """Same chunk objects, same stamps, a different dtype in the array's
    metadata: the block is decoded again under the new signature."""
    root, st, vals = _grid(tmp_path)
    st.read_array("v", BOX)
    meta = dataclasses.replace(st.array_meta("v"), np_dtype=np.dtype("<i8"))
    assert np.array_equal(st.decode_chunk(meta, (0, 0)),
                          vals[:8, :8].view("<i8"))


def test_cached_block_is_read_only_and_reads_are_writable(tmp_path):
    root, st, vals = _grid(tmp_path)
    meta = st.array_meta("v")
    block = st.decode_chunk(meta, (0, 0))
    assert st.decode_chunk(meta, (0, 0)) is block  # served from the cache
    with pytest.raises(ValueError):
        block[0, 0] = 1.0
    out = st.read_array("v", BOX)
    out[0, 0] = -7.0
    assert st.read_array("v", BOX)[0, 0] == vals[0, 0]


def test_cached_shard_block_is_read_only(tmp_path):
    """A shard decodes into a fresh array, not a view of the fetched bytes;
    the cache still hands it out read-only."""
    root = str(tmp_path / "shard.zarr")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(16, 16), chunks=(4, 4), shards=(16, 16),
                    dtype="float64", dims=("r", "c"))
    st.write_array_numpy("g", np.arange(256, dtype="f8").reshape(16, 16))
    meta = st.array_meta("g")
    block = st.decode_chunk(meta, (0, 0))
    assert st.decode_chunk(meta, (0, 0)) is block
    with pytest.raises(ValueError):
        block[0, 0] = 1.0


def test_cache_stays_within_its_cap(tmp_path, monkeypatch):
    assert zarr_store._CACHE_BYTES == 64 * 2**20
    monkeypatch.setattr(zarr_store, "_CACHE_BYTES", 4 * 512)  # 4 chunks
    root, st, vals = _grid(tmp_path)
    assert np.array_equal(st.read_array("v", BOX), vals)  # 16 chunks read
    cache = zarr_store._decoded_cache()
    assert cache.nbytes == sum(e[2].nbytes for e in cache.entries.values())
    assert 0 < cache.nbytes <= zarr_store._CACHE_BYTES
    assert len(cache.entries) == 4


def test_block_over_cap_is_not_kept(tmp_path, monkeypatch):
    """A block larger than the cap is read on every call and leaves the
    entries already cached in place."""
    monkeypatch.setattr(zarr_store, "_CACHE_BYTES", 2048)
    root, st, vals = _grid(tmp_path)
    st.create_array("w", shape=(8, 64), chunks=(8, 64), dtype="float64",
                    dims=("a", "c"))  # one 4096 B chunk
    wide = np.arange(8 * 64, dtype="f8").reshape(8, 64)
    st.write_array_numpy("w", wide)
    one = {"a": (0, 8), "b": (0, 8)}
    assert np.array_equal(st.read_array("v", one), vals[:8, :8])
    reads = _chunk_reads(st)
    for _ in range(2):
        assert np.array_equal(st.read_array("w"), wide)
        assert np.array_equal(st.read_array("v", one), vals[:8, :8])
    assert reads == ["w/0.0", "w/0.0"]
    cache = zarr_store._decoded_cache()
    assert list(cache.entries) == [(st._kv.root, "v/0.0")]
    assert cache.nbytes == 512


def test_threads_share_the_cache_under_switching(tmp_path, monkeypatch):
    """More threads than cores read chunks while one thread rewrites them,
    with a short GIL switch interval and a cap below the working set, so
    entries are put, hit, dropped and evicted concurrently. Every read is
    correct and the byte total matches the entries kept, within the cap."""
    import random
    import threading

    monkeypatch.setattr(zarr_store, "_CACHE_BYTES", 6 * 512)
    root, st, vals = _grid(tmp_path)
    meta = st.array_meta("v")
    errors: list = []

    def work(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(200):
                i, j = rng.randrange(4), rng.randrange(4)
                want = vals[8 * i:8 * i + 8, 8 * j:8 * j + 8]
                if seed == 0:  # the writer: same contents, new object
                    st.write_chunk(meta, (i, j), want)
                elif not np.array_equal(st.decode_chunk(meta, (i, j)), want):
                    errors.append((i, j))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(k,))
               for k in range(4 * (os.cpu_count() or 1))]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    cache = zarr_store._decoded_cache()
    assert cache.nbytes == sum(e[2].nbytes for e in cache.entries.values())
    assert cache.nbytes <= zarr_store._CACHE_BYTES


def test_all_threads_write_and_read_under_switching(tmp_path, monkeypatch):
    """The all-writers variant: every thread rewrites chunks (same contents,
    new objects) and reads them back, so several threads write one key at
    once. Each write needs its own temp file, or one thread publishes
    another's bytes or finds its temp file already renamed away."""
    import random
    import threading

    monkeypatch.setattr(zarr_store, "_CACHE_BYTES", 6 * 512)
    root, st, vals = _grid(tmp_path)
    meta = st.array_meta("v")
    errors: list = []

    def work(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(100):
                i, j = rng.randrange(4), rng.randrange(4)
                want = vals[8 * i:8 * i + 8, 8 * j:8 * j + 8]
                st.write_chunk(meta, (i, j), want)
                if not np.array_equal(st.decode_chunk(meta, (i, j)), want):
                    errors.append((i, j))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(k,))
               for k in range(4 * (os.cpu_count() or 1))]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    leftovers = [f for _, _, fs in os.walk(root) for f in fs if f.endswith(".tmp")]
    assert leftovers == []


def test_read_in_child_forked_with_the_cache_lock_held(tmp_path):
    """The parent has filled the cache and one of its threads holds the
    lock at the fork. The child must read correct data with a cache of its
    own and must not wait for the inherited lock."""
    root, st, vals = _grid(tmp_path)
    st.read_array("v", BOX)
    cache = zarr_store._decoded_cache()
    assert cache.entries
    with cache.lock:
        pid = os.fork()
        if pid == 0:  # child: report through the exit code only
            ok = False
            try:
                mine = zarr_store._decoded_cache()
                first = ZarrStore.open(root).read_array("v", BOX)
                again = ZarrStore.open(root).read_array("v", BOX)
                ok = (mine is not cache and len(mine.entries) == 16
                      and np.array_equal(first, vals)
                      and np.array_equal(again, vals))
            finally:
                os._exit(0 if ok else 1)
    deadline = time.monotonic() + 30
    while True:
        done, status = os.waitpid(pid, os.WNOHANG)
        if done:
            break
        if time.monotonic() > deadline:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
            pytest.fail("a read hung in a forked child")
        time.sleep(0.05)
    assert os.waitstatus_to_exitcode(status) == 0


class _CountingPool:
    """The chunk pool, counting the jobs submitted to it."""

    def __init__(self, pool):
        self.pool, self.submits = pool, 0

    def submit(self, fn, *args):
        self.submits += 1
        return self.pool.submit(fn, *args)


@pytest.fixture
def pool(monkeypatch):
    counting = _CountingPool(zarr_store._chunk_pool())
    monkeypatch.setattr(zarr_store, "_chunk_pool", lambda: counting)
    return counting


def test_cached_read_array_skips_the_pool(tmp_path, pool):
    """A cached 16-chunk read makes no chunk read and submits no job. After
    another store rewrites one chunk (dropping its entry), exactly that
    chunk is read, on one pool job. A chunk rewritten behind the cache's
    back keeps a stale entry: its read runs on the calling thread, and the
    stamp still makes it read the new bytes."""
    root, st, vals = _grid(tmp_path, {"id": "zlib", "level": 5})
    meta = st.array_meta("v")
    reads = _chunk_reads(st)
    pool.submits = 0
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert (len(reads), pool.submits) == (16, 16)
    reads.clear()
    pool.submits = 0
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert (reads, pool.submits) == ([], 0)
    ZarrStore.open(root).write_chunk(meta, (2, 3), np.full((8, 8), -3.0))
    vals[16:24, 24:32] = -3.0
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert (reads, pool.submits) == (["v/2.3"], 1)
    reads.clear()
    pool.submits = 0
    ZarrStore.open(root)._kv.write("v/0.1", st.encode_chunk(meta, np.full((8, 8), 9.0)))
    vals[0:8, 8:16] = 9.0
    assert np.array_equal(st.read_array("v", BOX), vals)
    assert (reads, pool.submits) == (["v/0.1"], 0)


def test_cached_fetch_blocks_skips_the_pool(tmp_path, pool):
    """A cached single-variable executor fetch makes no chunk read and
    submits no job."""
    from mdio_cpp_spark.sources.reader import _fetch_blocks

    root, st, vals = _grid(tmp_path)
    meta = st.array_meta("v")
    box = ((0, 32), (0, 32))
    coords = [(i, j) for i in range(4) for j in range(4)]
    assert len(list(_fetch_blocks(st, [meta], box, coords))) == 16
    reads = _chunk_reads(st)
    pool.submits = 0
    got = list(_fetch_blocks(st, [meta], box, coords))
    assert (reads, pool.submits) == ([], 0)
    for (i, j), blocks in got:
        assert np.array_equal(blocks["v"], vals[8 * i:8 * i + 8, 8 * j:8 * j + 8])


def test_fetch_blocks_keeps_input_order_across_hits_and_misses(tmp_path, pool):
    """Hits run on the calling thread and misses on the pool, in a
    scrambled chunk order: the output keeps the input order, and only the
    misses become jobs."""
    import random

    from mdio_cpp_spark.sources.reader import _fetch_blocks

    root, st, vals = _grid(tmp_path)
    meta = st.array_meta("v")
    coords = [(i, j) for i in range(4) for j in range(4)]
    random.Random(7).shuffle(coords)
    for c in coords[::2]:
        st.decode_chunk(meta, c)
    pool.submits = 0
    got = list(_fetch_blocks(st, [meta], ((0, 32), (0, 32)), coords))
    assert [c for c, _ in got] == coords
    assert pool.submits == 8
    for (i, j), blocks in got:
        assert np.array_equal(blocks["v"], vals[8 * i:8 * i + 8, 8 * j:8 * j + 8])


def _consolidated_grid(tmp_path, version: int) -> tuple[str, ZarrStore]:
    root = str(tmp_path / f"meta{version}.zarr")
    st = ZarrStore.create(root, version=version)
    st.create_array("v", shape=(16,), chunks=(8,), dtype="float64", dims=("a",))
    st.write_array_numpy("v", np.arange(16.0))
    st.consolidate()
    return root, st


@pytest.mark.parametrize("version", [2, 3])
def test_metadata_rewritten_by_a_subprocess_is_seen(tmp_path, version):
    """Another process updates an array's attributes and adds an array,
    which republishes the consolidated document (``.zmetadata`` or the v3
    root ``zarr.json``): a store opened before sees both at its next call."""
    root, _ = _consolidated_grid(tmp_path, version)
    st = ZarrStore.open(root)
    assert st.array_meta("v").attrs.get("k") is None
    assert st._parsed is not None  # the parse is kept
    code = (
        "import sys, numpy as np\n"
        "from mdio_cpp_spark.sources.zarr_store import ZarrStore\n"
        "st = ZarrStore.open(sys.argv[1])\n"
        "st.patch_array_attrs('v', {'k': 1})\n"
        "st.create_array('w', shape=(4,), chunks=(4,), dtype='float64', dims=('b',))\n"
        "st.write_array_numpy('w', np.full(4, 7.0))\n"
    )
    subprocess.run([sys.executable, "-c", code, root], cwd=REPO, check=True,
                   env={**os.environ, "PYTHONPATH": REPO})
    assert st.array_meta("v").attrs["k"] == 1
    assert np.array_equal(st.read_array("w"), np.full(4, 7.0))


def test_walked_v3_metadata_is_never_kept(tmp_path):
    """A v3 store without consolidated metadata is walked: the root
    document's stamp does not cover the child documents, so an array
    another store creates shows in the next ``arrays()``."""
    root = str(tmp_path / "walk.zarr")
    st = ZarrStore.create(root, version=3)
    st.create_array("a", shape=(4,), chunks=(4,), dtype="float64", dims=("i",))
    assert set(st.arrays()) == {"a"}
    ZarrStore.open(root).create_array("b", shape=(4,), chunks=(4,),
                                      dtype="float64", dims=("i",))
    assert set(st.arrays()) == {"a", "b"}
    assert st.array_meta("b").shape == (4,)


@pytest.mark.parametrize("version", [2, 3])
def test_arrays_returns_a_new_dict_each_call(tmp_path, version):
    root, st = _consolidated_grid(tmp_path, version)
    got = st.arrays()
    got.pop("v")
    got["x"] = None
    assert list(st.arrays()) == ["v"]


@pytest.mark.parametrize("version", [2, 3])
def test_dataset_open_reads_the_consolidated_document_once(tmp_path, monkeypatch, version):
    """``MdioDataset.open`` reads ``.zmetadata`` (or the v3 root
    ``zarr.json``) once; its variables' reads parse nothing again."""
    from mdio_cpp_spark.model import MdioDataset
    from mdio_cpp_spark.sources import kvstore

    root, _ = _consolidated_grid(tmp_path, version)
    doc = ".zmetadata" if version == 2 else "zarr.json"
    reads: list[str] = []
    read = kvstore.LocalKVStore.read

    def counted(self, key):
        reads.append(key)
        return read(self, key)

    monkeypatch.setattr(kvstore.LocalKVStore, "read", counted)
    ds = MdioDataset.open(root)
    assert reads.count(doc) == 1
    assert np.array_equal(ds.var("v").read(), np.arange(16.0))
    assert np.array_equal(ds.var("v").read(), np.arange(16.0))
    assert reads.count(doc) == 1
