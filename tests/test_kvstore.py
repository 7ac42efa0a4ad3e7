"""Filesystem seam tests (IO10): scheme routing, the in-memory fake cloud
filesystem, and the full store lifecycle running over a non-local KVStore —
the cloud-path coverage the reference gets from live gcs_test.cc/s3_test.cc,
here without any cloud SDK (zarr_driver.h:225-274 is the routing analog)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from mdio_cpp_spark.model import MdioDataset
from mdio_cpp_spark.sources.kvstore import (
    LocalKVStore,
    MemoryKVStore,
    open_kvstore,
)
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.utils import delete_dataset, trim_dataset


def test_scheme_routing():
    assert isinstance(open_kvstore("/tmp/x"), LocalKVStore)
    assert isinstance(open_kvstore("file:///tmp/x"), LocalKVStore)
    assert open_kvstore("file:///tmp/x").root == "/tmp/x"
    assert isinstance(open_kvstore("memory://bkt/a"), MemoryKVStore)
    try:
        import fsspec  # noqa: F401

        has_fsspec = True
    except ImportError:
        has_fsspec = False
    if not has_fsspec:
        with pytest.raises(NotImplementedError, match="fsspec"):
            open_kvstore("gs://bucket/store")
        with pytest.raises(NotImplementedError, match="fsspec"):
            open_kvstore("s3://bucket/store")


def test_memory_kvstore_semantics():
    kv = open_kvstore("memory://t1/root")
    kv.delete_all()
    assert kv.read("a/b") is None and not kv.exists("a")
    kv.write("a/b", b"x")
    kv.write("a/c/d", b"y")
    kv.write("e", b"z")
    assert kv.read("a/b") == b"x"
    assert kv.exists("a") and kv.exists("a/c") and kv.exists("e")
    assert kv.list_dir() == ["a", "e"]
    assert kv.list_dir("a") == ["b", "c"]
    assert kv.delete("a/b") and not kv.delete("a/b")
    # same bucket name → same contents (what a retried executor task sees)
    assert open_kvstore("memory://t1/root").read("e") == b"z"
    kv.delete_all()
    assert kv.list_dir() == []


@pytest.mark.parametrize("version", [2, 3])
def test_store_lifecycle_over_memory_fs(version):
    """Create → write → consolidate → open → read → trim → delete, all over
    the fake cloud filesystem: proves the store layer has no hidden os.path
    dependence and a cloud deployment only needs a KVStore."""
    root = f"memory://lifecycle/v{version}"
    open_kvstore(root).delete_all()
    st = ZarrStore.create(root, version=version)
    st.create_array("a", shape=(300,), chunks=(64,), dtype="float32", dims=("i",),
                    compressor={"id": "zlib" if version == 2 else "gzip", "level": 5})
    arr = np.linspace(0, 1, 300, dtype="f4")
    st.write_array_numpy("a", arr)
    st.consolidate()
    st2 = ZarrStore.open(root)
    assert st2.version == version
    assert np.array_equal(st2.read_array("a"), arr)
    assert np.array_equal(st2.read_array("a", ranges={"i": (100, 120)}), arr[100:120])
    report = trim_dataset(root, i=100)
    assert report["a"] == 3  # chunks 2,3,4 wholly beyond ceil(100/64)=2
    assert ZarrStore.open(root).array_meta("a").shape == (100,)
    delete_dataset(root)
    with pytest.raises(FileNotFoundError):
        ZarrStore.open(root)


def test_fsspec_backend_with_stub_module(monkeypatch):
    """Exercise FsspecKVStore's actual code path by injecting a minimal
    fsspec stand-in into sys.modules — proves the gs://-s3:// branch works
    end-to-end the moment a real fsspec wheel appears, not just that the
    router raises without one."""
    import io
    import sys
    import types

    files: dict[str, bytes] = {}

    class _FakeFS:
        def open(self, path, mode="rb"):
            if "r" in mode:
                if path not in files:
                    raise FileNotFoundError(path)
                return io.BytesIO(files[path])
            buf = io.BytesIO()
            orig_close = buf.close

            def close():
                files[path] = buf.getvalue()
                orig_close()

            buf.close = close
            return buf

        def exists(self, path):
            return path in files or any(k.startswith(path.rstrip("/") + "/") for k in files)

        def rm_file(self, path):
            if path not in files:
                raise FileNotFoundError(path)
            del files[path]

        def ls(self, path, detail=False):
            pref = path.rstrip("/") + "/"
            out = {pref + k[len(pref):].split("/", 1)[0] for k in files if k.startswith(pref)}
            if not out and path not in files:
                raise FileNotFoundError(path)
            return sorted(out)

        def rm(self, path, recursive=False):
            pref = path.rstrip("/") + "/"
            for k in [k for k in files if k.startswith(pref) or k == path]:
                del files[k]

        # the ranged-GET surface FsspecKVStore.read_range actually calls —
        # without these the partial-shard-read branch never executes
        def size(self, path):
            if path not in files:
                raise FileNotFoundError(path)
            return len(files[path])

        def cat_file(self, path, start=None, end=None):
            if path not in files:
                raise FileNotFoundError(path)
            return files[path][start:end]

    fake = types.ModuleType("fsspec")
    fake.core = types.SimpleNamespace(
        url_to_fs=lambda url: (_FakeFS(), url.split("://", 1)[1])
    )
    monkeypatch.setitem(sys.modules, "fsspec", fake)

    root = "gs://bucket/store"
    st = ZarrStore.create(root, version=2)
    st.create_array("a", shape=(100,), chunks=(32,), dtype="int32", dims=("i",),
                    compressor={"id": "zlib", "level": 1})
    st.write_array_numpy("a", np.arange(100, dtype="i4"))
    st.consolidate()
    st2 = ZarrStore.open(root)
    assert np.array_equal(st2.read_array("a", ranges={"i": (10, 20)}), np.arange(10, 20))
    report = trim_dataset(root, i=40)
    assert report["a"] == 2  # chunks 2,3 wholly beyond ceil(40/32)=2
    delete_dataset(root)
    assert not files

    # SHARDED v3 over the cloud scheme: the box-aware partial read goes
    # through FsspecKVStore.read_range (suffix-ranged index GET + one
    # ranged GET per touched inner chunk) — the object-store codepath the
    # shard index exists for (gcs_test.cc's role, wheel-free)
    sroot = "gs://bucket/sharded"
    s3 = ZarrStore.create(sroot, version=3)
    meta = s3.create_array("a", shape=(128,), chunks=(16,), dtype="int64",
                           dims=("i",), shards=(64,),
                           compressor={"id": "gzip", "level": 1})
    s3.write_array_numpy("a", np.arange(128, dtype="i8") * 3)
    got = s3.decode_chunk_box(meta, (0,), ((20, 25),))
    assert np.array_equal(np.asarray(got)[20:25], np.arange(20, 25) * 3)
    assert np.array_equal(
        ZarrStore.open(sroot).read_array("a", ranges={"i": (60, 70)}),
        np.arange(60, 70) * 3,
    )
    delete_dataset(sroot)
    assert not files


def test_dataset_model_over_memory_fs():
    root = "memory://ds1/toy"
    open_kvstore(root).delete_all()
    spec = {
        "metadata": {"name": "m", "apiVersion": "1.0.0"},
        "variables": [
            {"name": "x", "dataType": "int64", "dimensions": [{"name": "x", "size": 32}]},
            {"name": "v", "dataType": "float64", "dimensions": ["x"], "coordinates": ["x"]},
        ],
    }
    ds = MdioDataset.from_json(spec, root)
    ds.store.write_array_numpy("x", np.arange(100, 132, dtype="i8"))
    ds.store.write_array_numpy("v", np.arange(32, dtype="f8") * 1.5)
    ds = MdioDataset.open(root)
    sel = ds.sel(x=(110, 120))
    assert sel.var("v").get_intervals()["x"] == (10, 21)
    assert np.array_equal(sel.var("v").read(), np.arange(10, 21) * 1.5)
    ds.set_units("v", {"length": "m"})
    ds.commit_metadata()
    assert MdioDataset.open(root).var("v").attrs["unitsV1"] == {"length": "m"}


class FlakyKVStore:
    """Fails the first N calls of each op, then delegates — the transient
    cloud-failure simulator."""

    def __init__(self, inner, fail_times=2):
        self.inner = inner
        self.root = inner.root
        self.fails = {}
        self.fail_times = fail_times

    def _maybe_fail(self, op):
        n = self.fails.get(op, 0)
        if n < self.fail_times:
            self.fails[op] = n + 1
            raise ConnectionError(f"transient {op} failure #{n + 1}")

    def read(self, key):
        self._maybe_fail("read")
        return self.inner.read(key)

    def write(self, key, data):
        self._maybe_fail("write")
        return self.inner.write(key, data)

    def exists(self, key):
        self._maybe_fail("exists")
        return self.inner.exists(key)

    def delete(self, key):
        self._maybe_fail("delete")
        return self.inner.delete(key)

    def list_dir(self, prefix=""):
        self._maybe_fail("list_dir")
        return self.inner.list_dir(prefix)

    def delete_all(self):
        return self.inner.delete_all()


def test_retrying_kvstore_recovers_from_transient_failures():
    from mdio_cpp_spark.sources.kvstore import MemoryKVStore, RetryingKVStore

    inner = MemoryKVStore("memory://retry-test/s")
    flaky = FlakyKVStore(inner, fail_times=2)
    store = RetryingKVStore(flaky, attempts=4, base_delay=0.001)
    store.write("k", b"payload")
    assert store.read("k") == b"payload"
    assert store.exists("k")
    assert store.list_dir() == ["k"]
    assert store.delete("k")


def test_retrying_kvstore_gives_up_after_attempts():
    import pytest

    from mdio_cpp_spark.sources.kvstore import MemoryKVStore, RetryingKVStore

    inner = MemoryKVStore("memory://retry-test2/s")
    flaky = FlakyKVStore(inner, fail_times=99)
    store = RetryingKVStore(flaky, attempts=3, base_delay=0.001)
    with pytest.raises(ConnectionError):
        store.read("k")
    assert flaky.fails["read"] == 3  # exactly `attempts` tries


def test_absent_key_is_result_not_failure():
    from mdio_cpp_spark.sources.kvstore import MemoryKVStore, RetryingKVStore

    store = RetryingKVStore(MemoryKVStore("memory://retry-test3/s"), attempts=4)
    assert store.read("missing") is None  # immediate, no retries


def test_cloud_paths_default_to_retrying():
    import pytest

    from mdio_cpp_spark.sources.kvstore import open_kvstore

    # cloud scheme without fsspec → NotImplementedError (gate unchanged);
    # explicit retries on a local path → wrapped
    with pytest.raises(NotImplementedError):
        open_kvstore("gs://bucket/store")
    assert type(open_kvstore("memory://b/s", retries=3)).__name__ == "RetryingKVStore"


def test_fsspec_store_against_real_memory_fs():
    """FsspecKVStore driven by REAL fsspec (its memory:// filesystem) the
    moment the wheel is importable — the cloud seam then gets a genuine
    fsspec lifecycle test with no code change, mirroring the blosc gating
    pattern. Skipped in this container (no fsspec wheel; probe log
    tests/INTEROP_PROBE.md)."""
    fsspec = pytest.importorskip(
        "fsspec", reason="fsspec wheel not installed (tests/INTEROP_PROBE.md)"
    )
    import numpy as np

    from mdio_cpp_spark.sources.kvstore import FsspecKVStore
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    kv = FsspecKVStore("memory://fsspec-real/store")
    kv.write("a/b", b"payload")
    assert kv.read("a/b") == b"payload"
    assert kv.exists("a/b") and not kv.exists("a/missing")
    assert kv.list_dir("a") == ["b"]
    assert kv.delete("a/b") and kv.read("a/b") is None

    # full store lifecycle THROUGH fsspec: create, write chunks, read back
    root = "memory://fsspec-real/ds.zarr"
    store = ZarrStore(root, 2)
    store._kv = FsspecKVStore(root)  # bypass scheme routing (memory:// maps
    store._write_json(".zgroup", {"zarr_format": 2})  # to the fake otherwise)
    store.create_array("v", shape=(10,), chunks=(4,), dtype="float64", dims=("i",))
    store.write_array_numpy("v", np.arange(10.0))
    rt = ZarrStore(root, 2)
    rt._kv = FsspecKVStore(root)
    assert np.array_equal(rt.read_array("v"), np.arange(10.0))
    kv2 = FsspecKVStore(root)
    kv2.delete_all()
    assert not kv2.exists(".zgroup")


def test_local_read_range_suffix_clamps_to_object_size(tmp_path):
    """A suffix (negative-start) read bigger than the object must return the
    WHOLE object, not None — HTTP Range suffix semantics. Before the clamp, a
    present-but-truncated shard hit OSError on the negative seek, read as
    ABSENT, and the shard-index path silently synthesized fill values where
    the whole-object path raises 'shorter than its index' (ADVICE r6)."""
    from mdio_cpp_spark.sources.kvstore import LocalKVStore

    kv = LocalKVStore(str(tmp_path))
    kv.write("short", b"abcdef")
    # suffix larger than the file: clamp to the full 6 bytes
    assert kv.read_range("short", -100, 100) == b"abcdef"
    # normal suffix still exact
    assert kv.read_range("short", -4, 4) == b"cdef"
    # positive start past EOF: empty bytes (not None — the object exists)
    assert kv.read_range("short", 10, 4) == b""
    # missing object: None
    assert kv.read_range("missing", -16, 16) is None
    # absent only when the key is absent: any other error raises, as read does
    assert kv.read_range("short/below", 0, 4) is None
    os.mkdir(os.path.join(str(tmp_path), "adir"))
    with pytest.raises(IsADirectoryError):
        kv.read_range("adir", 0, 4)
    with pytest.raises(IsADirectoryError):
        kv.read("adir")


def test_generation_stamps_local_keys_only(tmp_path):
    """Only the local store stamps a key's version; a rewrite changes the
    stamp, an absent key has none, the retry wrapper passes it through,
    and the memory store (like HTTP and fsspec) has none at all."""
    kv = LocalKVStore(str(tmp_path))
    assert kv.generation("k") is None
    kv.write("k", b"one")
    stamp = kv.generation("k")
    assert stamp is not None and kv.generation("k") == stamp
    kv.write("k", b"two")
    assert kv.generation("k") != stamp
    wrapped = open_kvstore(str(tmp_path), retries=2)
    assert wrapped.generation("k") == kv.generation("k")
    mem = MemoryKVStore("memory://generation-test")
    mem.write("k", b"one")
    assert mem.generation("k") is None
