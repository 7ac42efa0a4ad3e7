"""Loopback-HTTP kvstore: REAL network ranged GETs with zero wheels.

The reference proves its cloud IO against live GCS/S3 (gcs_test.cc 374 LoC,
s3_test.cc 372 LoC — HTTP under the SDKs). This suite is that coverage
shape without credentials: a stdlib ThreadingHTTPServer on 127.0.0.1
(sources/http_loopback.py) serves a store directory, and every byte crosses
a genuine socket. Pins: the verb lifecycle, 206/200/416 Range semantics,
retry-on-5xx with give-up, fetch SHAPES for partial shard reads (ranged
GETs only — never the full object), and the full engine store lifecycle
(create → distributed-style write → consolidated open → chunk-pruned read
→ trim → delete) running entirely over http://."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from mdio_cpp_spark.sources.http_loopback import LoopbackHttpServer
from mdio_cpp_spark.sources.kvstore import (
    HttpKVStore,
    RetryingKVStore,
    open_kvstore,
)
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.utils import delete_dataset, trim_dataset


@pytest.fixture()
def served(tmp_path):
    with LoopbackHttpServer(str(tmp_path)) as srv:
        yield srv, str(tmp_path)


@pytest.fixture(scope="module")
def tls_material(tmp_path_factory):
    """Self-signed cert/key for 127.0.0.1 via the openssl CLI (no python
    cert-generation wheel in this container)."""
    import subprocess

    d = tmp_path_factory.mktemp("tls")
    cert, key = str(d / "cert.pem"), str(d / "key.pem")
    r = subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-keyout", key,
         "-out", cert, "-days", "2", "-nodes", "-subj", "/CN=127.0.0.1",
         "-addext", "subjectAltName=IP:127.0.0.1"],
        capture_output=True,
    )
    if r.returncode != 0:  # pragma: no cover - env-dependent
        pytest.skip("openssl CLI unavailable for self-signed cert generation")
    return cert, key


@pytest.fixture(params=["http", "https"])
def served_scheme(request, tmp_path, monkeypatch):
    """The loopback server under BOTH schemes: every test using this
    fixture runs its full verb set once over plain HTTP and once over TLS
    (client verification pinned to the test CA via MDIO_SPARK_CA_BUNDLE —
    the policy for private/self-signed deployments; never verify-off)."""
    if request.param == "https":
        cert, key = request.getfixturevalue("tls_material")
        monkeypatch.setenv("MDIO_SPARK_CA_BUNDLE", cert)
        srv = LoopbackHttpServer(str(tmp_path), tls_cert=cert, tls_key=key)
    else:
        srv = LoopbackHttpServer(str(tmp_path))
    with srv:
        yield srv, str(tmp_path)


def test_http_scheme_routing():
    kv = open_kvstore("http://127.0.0.1:1/x")
    assert isinstance(kv, RetryingKVStore)
    assert isinstance(kv.inner, HttpKVStore)
    assert isinstance(open_kvstore("https://example.invalid/x", retries=0),
                      HttpKVStore)


def test_http_kvstore_lifecycle(served_scheme):
    srv, root = served_scheme
    kv = open_kvstore(srv.url, retries=0)
    assert kv.read("a/b") is None and not kv.exists("a/b")
    assert kv.size("a/b") is None
    kv.write("a/b", b"hello world")
    kv.write("a/c/d", b"y")
    kv.write("e", b"z")
    assert kv.read("a/b") == b"hello world"
    assert kv.size("a/b") == 11  # HEAD, no byte transfer
    assert kv.exists("e")
    assert kv.list_dir() == ["a", "e"]
    assert kv.list_dir("a") == ["b", "c"]
    assert kv.delete("a/b") and not kv.delete("a/b")
    assert kv.read("a/b") is None
    kv.delete_all()
    assert not kv.exists("e")


def test_http_ranged_get_semantics(served_scheme):
    srv, root = served_scheme
    kv = open_kvstore(srv.url, retries=0)
    data = bytes(range(256)) * 4
    kv.write("blob", data)
    srv.clear_log()
    assert kv.read_range("blob", 10, 20) == data[10:30]
    assert kv.read_range("blob", -16, 16) == data[-16:]
    assert kv.read_range("blob", -10_000, 24) == data[:24]  # suffix clamps
    assert kv.read_range("blob", len(data) + 5, 4) == b""   # 416 → b""
    assert kv.read_range("missing", 0, 4) is None
    ranged = [r for r in srv.requests if r[0] == "GET" and r[2]]
    assert [r[3] for r in ranged] == [206, 206, 206, 416, 404]
    # no full-object GET happened for any of the window reads
    assert not any(r[0] == "GET" and r[2] is None and r[1].endswith("blob")
                   for r in srv.requests)


def test_http_200_fallback_when_server_ignores_range(tmp_path):
    with LoopbackHttpServer(str(tmp_path), ignore_range=True) as srv:
        kv = open_kvstore(srv.url, retries=0)
        data = b"0123456789" * 10
        kv.write("blob", data)
        assert kv.read_range("blob", 10, 5) == data[10:15]
        assert kv.read_range("blob", -7, 7) == data[-7:]
        full = [r for r in srv.requests if r[0] == "GET" and r[3] == 200]
        assert len(full) >= 2  # the server really did ignore Range


def test_http_retry_recovers_from_5xx(tmp_path):
    with LoopbackHttpServer(str(tmp_path), fail_first=2) as srv:
        (tmp_path / "k").write_bytes(b"v")
        kv = open_kvstore(srv.url)  # default retry wrap (4 attempts)
        assert kv.read("k") == b"v"
        gets = [r for r in srv.requests if r[0] == "GET"]
        assert [r[3] for r in gets] == [503, 503, 200]


def test_http_retry_gives_up_after_attempts(tmp_path):
    import urllib.error

    with LoopbackHttpServer(str(tmp_path), fail_first=99) as srv:
        (tmp_path / "k").write_bytes(b"v")
        kv = open_kvstore(srv.url, retries=3)
        with pytest.raises(urllib.error.HTTPError):
            kv.read("k")
        assert len([r for r in srv.requests if r[0] == "GET"]) == 3


def test_http_404_is_result_not_retried(tmp_path):
    with LoopbackHttpServer(str(tmp_path)) as srv:
        kv = open_kvstore(srv.url)  # retries on
        assert kv.read("absent") is None
        assert len(srv.requests) == 1  # one GET, no retry storm on absence


def test_http_path_traversal_rejected(served):
    srv, root = served
    kv = open_kvstore(srv.url, retries=0)
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):
        kv.read("../escape")


def test_store_lifecycle_over_http(tmp_path):
    """create → write → consolidate → reopen → exact read → trim → delete,
    every byte over real sockets (the memory:// lifecycle twin, upgraded
    from a fake fs to genuine network I/O)."""
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/store.zarr"
        st = ZarrStore.create(root, version=3, attrs={"name": "http"})
        st.create_array("a", shape=(300,), chunks=(64,), dtype="float32",
                        dims=("i",), compressor={"id": "gzip", "level": 5})
        arr = np.linspace(0, 1, 300, dtype="f4")
        st.write_array_numpy("a", arr)
        st.consolidate()
        st2 = ZarrStore.open(root)
        assert st2.version == 3
        assert np.array_equal(st2.read_array("a"), arr)
        assert np.array_equal(
            st2.read_array("a", ranges={"i": (100, 120)}), arr[100:120])
        report = trim_dataset(root, i=100)
        assert report["a"] == 3
        assert ZarrStore.open(root).array_meta("a").shape == (100,)
        delete_dataset(root)
        with pytest.raises(FileNotFoundError):
            ZarrStore.open(root)


def test_consolidated_open_over_http_is_o1_requests(tmp_path):
    """The VERDICT-4 pairing: over an object store (here: real HTTP), a
    consolidated v3 open must issue O(1) metadata requests — one HEAD probe
    plus root zarr.json GETs — independent of variable count, and NO
    listing GET (plain HTTP has no LIST verb; the engine must not need
    one)."""
    local = str(tmp_path / "many.zarr")
    st = ZarrStore.create(local, version=3)
    for k in range(8):
        st.create_array(f"v{k}", shape=(16,), chunks=(8,), dtype="int32",
                        dims=("i",))
    st.write_array_numpy("v3", np.arange(16, dtype="i4"))
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/many.zarr"
        srv.clear_log()
        st2 = ZarrStore.open(root)
        metas = st2.arrays()
        assert set(metas) == {f"v{k}" for k in range(8)}
        meta_reqs = [r for r in srv.requests]
        # every request so far targets the root zarr.json — no per-array
        # GETs, no directory index fetch
        assert all(r[1].endswith("/many.zarr/zarr.json") for r in meta_reqs), meta_reqs
        assert len(meta_reqs) <= 4
        got = st2.read_array("v3")
        assert np.array_equal(got, np.arange(16, dtype="i4"))


def test_partial_shard_read_over_http_uses_ranged_gets(tmp_path):
    """Sharded v3 store over HTTP: a one-inner-chunk read must fetch the
    shard INDEX (suffix range) and that inner chunk's window — ranged GETs
    only, never the whole shard object (the 100-TB read shape: shards are
    big; reads are small)."""
    local = str(tmp_path / "sharded.zarr")
    st = ZarrStore.create(local, version=3)
    st.create_array("x", shape=(4096,), chunks=(256,), shards=(1024,),
                    dtype="float64", dims=("i",))
    vals = np.arange(4096, dtype="f8")
    st.write_array_numpy("x", vals)
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/sharded.zarr"
        st2 = ZarrStore.open(root)
        meta = st2.array_meta("x")
        srv.clear_log()
        # box is GLOBAL: [1324, 1404) lives in shard 1, inner chunks 1-2
        got = np.asarray(st2.decode_chunk_box(meta, (1,), ((1324, 1404),)))
        gets = [r for r in srv.requests if r[0] == "GET"]
        assert gets, "no GETs recorded"
        assert all(r[2] is not None for r in gets), f"full-object GET: {gets}"
        assert all(r[3] == 206 for r in gets)
    # correctness of the window itself (positions are shard-relative)
    assert np.array_equal(got[300:380], vals[1024 + 300:1024 + 380])


def test_fused_scan_partial_shard_reads_over_http(tmp_path, spark):
    """A fused scan of two sharded v3 arrays with a box inside ONE inner
    chunk fetches, per array, the shard index and that inner chunk —
    ranged GETs only — through scan_arrays and option("variables") alike."""
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.reader import scan_arrays

    local = str(tmp_path / "fused.zarr")
    st = ZarrStore.create(local, version=3)
    vals = np.arange(4096, dtype="f8")
    for name, scale in (("a", 1.0), ("b", -2.0)):
        st.create_array(name, shape=(4096,), chunks=(256,), shards=(1024,),
                        dtype="float64", dims=("i",))
        st.write_array_numpy(name, vals * scale)
    st.consolidate()
    want = [(i, float(i), -2.0 * i) for i in range(1324, 1340)]
    register(spark)
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/fused.zarr"
        dsv2 = (spark.read.format("mdio").option("path", root)
                .option("variables", "a,b").load())
        for df in (scan_arrays(spark, root, {"a": "a", "b": "b"}, ranges={"i": (1324, 1340)}),
                   dsv2.filter("i >= 1324 AND i < 1340")):
            srv.clear_log()
            assert sorted(tuple(r) for r in df.collect()) == want
            for name in ("a", "b"):
                shard = [r for r in srv.requests
                         if r[0] == "GET" and r[1].endswith(f"/fused.zarr/{name}/c/1")]
                # one suffix-range index read + one inner-chunk range read
                assert len(shard) == 2, shard
                assert all(r[2] is not None and r[3] == 206 for r in shard), shard


def test_zonemap_prunes_chunk_gets_over_http(tmp_path, spark):
    """The full object-store read discipline in one test: zone-map pruning
    must prevent the chunk GET entirely over HTTP — the request log shows
    metadata + zone-map reads and ONLY the two compatible chunks' objects;
    the eight pruned chunks are never requested. (At 100 TB this is the
    difference between touching 2 objects and 10 million.)"""
    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.reader import scan_array
    from pyspark.sql import functions as F

    local = str(tmp_path / "zm.zarr")
    st = ZarrStore.create(local, version=2)
    st.create_array("v", shape=(1000,), chunks=(100,), dtype="float64",
                    dims=("i",))
    vals = np.arange(1000, dtype=np.float64)
    st.write_array_numpy("v", vals)
    zonemap.build_sidecar_stats(spark, local, "v")
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/zm.zarr"
        srv.clear_log()
        got = (
            scan_array(spark, root, "v", value_filter=(">=", 800.0))
            .agg(F.count("*").alias("c"), F.sum("value").alias("s"))
            .collect()[0]
        )
        assert got["c"] == 200 and got["s"] == float(sum(range(800, 1000)))
        chunk_gets = sorted({
            r[1].rsplit("/", 1)[-1] for r in srv.requests
            if r[0] == "GET" and r[1].split("/")[-2] == "v"
            and not r[1].endswith((".zarray", ".zattrs", ".zmetadata"))
        })
        assert chunk_gets == ["8", "9"], (
            f"pruned chunks were fetched: {chunk_gets}")


def test_http_read_range_matches_local_semantics_property(tmp_path):
    """Property differential: for a grid of (start, length) spanning
    negatives, zero, past-EOF, and clamped suffixes, HttpKVStore.read_range
    over the loopback server must return byte-for-byte what
    LocalKVStore.read_range returns on the same object — the range
    semantics are defined ONCE (by the local seek implementation) and every
    backend must agree."""
    from mdio_cpp_spark.sources.kvstore import LocalKVStore

    data = bytes(range(251)) * 3  # 753 bytes, non-round
    (tmp_path / "obj").write_bytes(data)
    local = LocalKVStore(str(tmp_path))
    with LoopbackHttpServer(str(tmp_path)) as srv:
        http = open_kvstore(srv.url, retries=0)
        starts = [0, 1, 7, 250, 752, 753, 760, 10_000,
                  -1, -7, -253, -752, -753, -754, -10_000]
        lengths = [0, 1, 4, 250, 753, 900]
        for st in starts:
            for ln in lengths:
                want = local.read_range("obj", st, ln)
                got = http.read_range("obj", st, ln)
                assert got == want, (st, ln, len(want or b""), len(got or b""))


def test_http_size_without_content_length_falls_back_to_range_probe(tmp_path):
    """A 2xx HEAD without Content-Length (legal for chunked/compressed
    replies) must not read as ABSENT: size() falls back to a one-byte
    ranged GET and parses the Content-Range total."""
    data = b"x" * 753
    (tmp_path / "obj").write_bytes(data)
    with LoopbackHttpServer(str(tmp_path), strip_head_content_length=True) as srv:
        kv = open_kvstore(srv.url, retries=0)
        assert kv.size("obj") == 753
        assert kv.size("absent") is None
        probe = [r for r in srv.requests if r[0] == "GET" and r[2] == "bytes=0-0"]
        assert probe and probe[0][3] == 206  # one-byte probe, not a full GET


def test_http_list_dir_empty_directory_returns_empty(served):
    srv, root = served
    os.makedirs(os.path.join(root, "emptydir"))
    kv = open_kvstore(srv.url, retries=0)
    assert kv.list_dir("emptydir") == []


def test_http_inverted_and_malformed_ranges_answer_400(served):
    import urllib.request
    import urllib.error

    srv, root = served
    (os.path.join(root, "obj"))
    open(os.path.join(root, "obj"), "wb").write(b"0123456789")
    for rng in ("bytes=5-2", "bytes=-"):
        req = urllib.request.Request(f"{srv.url}/obj", headers={"Range": rng})
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=10)
        assert ei.value.code == 400, rng


def test_create_array_over_http_is_incremental_no_list(tmp_path):
    """Adding an array to a consolidated v3 store over HTTP must patch the
    published doc with O(1) requests — no directory-index GET, no
    per-existing-array GETs (the O(N^2) walk the incremental path
    replaces) — and the new array is immediately visible to a fresh
    consolidated open."""
    local = str(tmp_path / "inc.zarr")
    st = ZarrStore.create(local, version=3)
    for k in range(5):
        st.create_array(f"v{k}", shape=(8,), chunks=(8,), dtype="int32",
                        dims=("i",))
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/inc.zarr"
        st2 = ZarrStore.open(root)
        srv.clear_log()
        st2.create_array("late", shape=(8,), chunks=(8,), dtype="int32",
                         dims=("j",))
        paths = {r[1] for r in srv.requests}
        # only the root doc and the new array's doc are ever touched
        assert all(p.endswith(("/inc.zarr/zarr.json", "/late/zarr.json"))
                   for p in paths), paths
        assert not any("/v0/" in p or "/v4/" in p for p in paths)
        metas = ZarrStore.open(root).arrays()
        assert "late" in metas and len(metas) == 6


def test_https_untrusted_cert_fails_loudly(tmp_path, tls_material,
                                           monkeypatch):
    """Without the CA bundle pinned, a self-signed peer must FAIL — there
    is no silent verify-off path in HttpKVStore."""
    import urllib.error

    cert, key = tls_material
    monkeypatch.delenv("MDIO_SPARK_CA_BUNDLE", raising=False)
    (tmp_path / "k").write_bytes(b"v")
    with LoopbackHttpServer(str(tmp_path), tls_cert=cert, tls_key=key) as srv:
        kv = open_kvstore(srv.url, retries=0)
        with pytest.raises(urllib.error.URLError) as ei:
            kv.read("k")
        assert "certificate" in str(ei.value).lower()


def test_store_lifecycle_over_https(tmp_path, tls_material, monkeypatch):
    """The engine store lifecycle (create → write → consolidate → reopen →
    ranged read) end-to-end over TLS — the https twin of
    test_store_lifecycle_over_http."""
    cert, key = tls_material
    monkeypatch.setenv("MDIO_SPARK_CA_BUNDLE", cert)
    with LoopbackHttpServer(str(tmp_path), tls_cert=cert, tls_key=key) as srv:
        assert srv.url.startswith("https://")
        root = f"{srv.url}/store.zarr"
        st = ZarrStore.create(root, version=3, attrs={"name": "tls"})
        st.create_array("a", shape=(300,), chunks=(64,), dtype="float32",
                        dims=("i",), compressor={"id": "gzip", "level": 5})
        arr = np.linspace(0, 1, 300, dtype="f4")
        st.write_array_numpy("a", arr)
        st.consolidate()
        st2 = ZarrStore.open(root)
        assert np.array_equal(st2.read_array("a"), arr)
        srv.clear_log()
        assert np.array_equal(
            st2.read_array("a", ranges={"i": (100, 120)}), arr[100:120])
        # chunk pruning holds over TLS: [100, 120) lives in chunk 1 of 64 —
        # only that chunk object crosses the wire
        chunk_gets = [r[1].rsplit("/", 1)[-1] for r in srv.requests
                      if r[0] == "GET" and "/a/c" in r[1]]
        assert chunk_gets == ["1"], chunk_gets


def test_https_scan_heals_truncation_fault(tmp_path, tls_material,
                                           monkeypatch):
    """Fault-injection differential holds over TLS too: a truncated reply
    mid-read is rejected and retried to a bit-identical result."""
    cert, key = tls_material
    monkeypatch.setenv("MDIO_SPARK_CA_BUNDLE", cert)
    local = str(tmp_path / "f.zarr")
    st = ZarrStore.create(local, version=3)
    st.create_array("x", shape=(400,), chunks=(100,), dtype="float64",
                    dims=("i",))
    vals = np.arange(400, dtype="f8")
    st.write_array_numpy("x", vals)
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path), tls_cert=cert, tls_key=key) as srv:
        st2 = ZarrStore.open(f"{srv.url}/f.zarr")
        srv.schedule_fault("truncate", times=1, path_substr="/c/")
        got = st2.read_array("x")
        assert srv.pending_faults() == 0
        assert np.array_equal(got, vals)


def test_consolidated_open_o1_requests_at_1k_variables(tmp_path):
    """The scale pin the consolidated path exists for: a 1,024-variable v3
    store opened over HTTP costs the SAME O(1) metadata requests as an
    8-variable one (the toy-count twin above) — no walk, no LIST, no
    per-array GETs. Without consolidation this open is 1,024 round-trips
    (zarr_v3.h:539-625's walk); at 10k variables on a 50 ms-RTT object
    store that walk is an 8-minute driver stall."""
    import time

    N = 1024
    local = str(tmp_path / "wide.zarr")
    st = ZarrStore.create(local, version=3)
    for k in range(N):
        st.create_array(f"v{k:04d}", shape=(4,), chunks=(4,), dtype="int8",
                        dims=("i",))
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path)) as srv:
        root = f"{srv.url}/wide.zarr"
        srv.clear_log()
        t0 = time.time()
        st2 = ZarrStore.open(root)
        metas = st2.arrays()
        wall = time.time() - t0
        assert len(metas) == N
        assert len(srv.requests) <= 4, srv.requests[:10]
        assert all(r[1].endswith("/wide.zarr/zarr.json")
                   for r in srv.requests), srv.requests[:10]
        # loose wall bound: parsing a ~1k-entry doc is O(doc), not O(RTT·N)
        assert wall < 5.0, wall


def test_read_array_window_on_sharded_store_uses_ranged_gets(tmp_path):
    """Driver-side window reads route through the box-aware shard path
    too: a 100-element window of a 1M-element sharded store over HTTP
    fetches the shard index (suffix range) plus the intersecting inner
    chunks — never a whole shard object. (Before r11, read_array pulled
    the full 131 KB shard for any window.)"""
    local = str(tmp_path / "win.zarr")
    st = ZarrStore.create(local, version=3)
    st.create_array("x", shape=(100_000,), chunks=(1024,), shards=(16_384,),
                    dtype="float64", dims=("i",))
    vals = np.arange(100_000, dtype="f8")
    st.write_array_numpy("x", vals)
    st.consolidate()
    with LoopbackHttpServer(str(tmp_path)) as srv:
        st2 = ZarrStore.open(f"{srv.url}/win.zarr")
        srv.clear_log()
        got = st2.read_array("x", ranges={"i": (50_037, 50_137)})
        assert np.array_equal(got, vals[50_037:50_137])
        gets = [r for r in srv.requests if r[0] == "GET" and "/c/" in r[1]]
        assert gets and all(r[2] is not None for r in gets), gets
        assert all(r[3] == 206 for r in gets)
        # a multi-chunk box across two shards: the last inner chunk of
        # shard 0 and the first of shard 1, each by index + one ranged GET
        srv.clear_log()
        got = st2.read_array("x", ranges={"i": (16_300, 16_500)})
        assert np.array_equal(got, vals[16_300:16_500])
        gets = [r for r in srv.requests if r[0] == "GET" and "/c/" in r[1]]
        assert sorted(r[1].rsplit("/", 1)[-1] for r in gets) == ["0", "0", "1", "1"]
        assert all(r[2] is not None and r[3] == 206 for r in gets), gets


def test_read_array_fetches_each_chunk_once_with_bounded_concurrency(tmp_path):
    """A 16-chunk read_array over HTTP GETs the consolidated metadata and
    each of its 16 chunk objects exactly once, and nothing else, while more
    than one but at most _PREFETCH_DEPTH fetches are in flight at a time.
    Repeating the read repeats the same GETs."""
    import threading
    import time
    from collections import Counter

    from mdio_cpp_spark.sources.zarr_store import _PREFETCH_DEPTH

    local = str(tmp_path / "grid.zarr")
    st = ZarrStore.create(local, version=2)
    st.create_array("v", shape=(64, 64), chunks=(8, 8), dtype="float32",
                    dims=("a", "b"))
    vals = np.arange(64 * 64, dtype="f4").reshape(64, 64)
    st.write_array_numpy("v", vals)
    st.consolidate()

    class Gauge:
        """Counts concurrent reads through a kvstore; each read is slowed
        so overlapping fetches actually overlap."""

        def __init__(self, inner):
            self.inner, self.now, self.peak = inner, 0, 0
            self.lock = threading.Lock()

        def read(self, key):
            with self.lock:
                self.now += 1
                self.peak = max(self.peak, self.now)
            try:
                time.sleep(0.02)
                return self.inner.read(key)
            finally:
                with self.lock:
                    self.now -= 1

        def __getattr__(self, name):
            return getattr(self.inner, name)

    with LoopbackHttpServer(str(tmp_path)) as srv:
        st2 = ZarrStore.open(f"{srv.url}/grid.zarr")
        st2.array_meta("v")
        st2._kv = gauge = Gauge(st2._kv)
        srv.clear_log()
        # rows 8..40 x cols 20..44: chunk rows 1-4 x chunk cols 2-5
        got = st2.read_array("v", ranges={"a": (8, 40), "b": (20, 44)})
        assert np.array_equal(got, vals[8:40, 20:44])
        gets = Counter(r[1].split("/grid.zarr/", 1)[1] for r in srv.requests
                       if r[0] == "GET")
        want = Counter([".zmetadata"] + [f"v/{i}.{j}" for i in range(1, 5)
                                         for j in range(2, 6)])
        assert gets == want
        assert 1 < gauge.peak <= _PREFETCH_DEPTH, gauge.peak
        # an HTTP store has no generation stamp, so the decoded-chunk cache
        # keeps nothing: the same read again issues the same GETs again
        srv.clear_log()
        again = st2.read_array("v", ranges={"a": (8, 40), "b": (20, 44)})
        assert np.array_equal(again, vals[8:40, 20:44])
        gets = Counter(r[1].split("/grid.zarr/", 1)[1] for r in srv.requests
                       if r[0] == "GET")
        assert gets == want
