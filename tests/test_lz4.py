"""Pure-Python LZ4 block codec (the test oracle, tests/oracles/lz4.py) +
blosc-lz4 frames (blosc1.py's lz4/split support over the native kernel).

The decoder is the interop-critical direction (reading c-blosc lz4 stores
with no wheel); it's pinned three ways: hand-built sequences straight from
the public block format (independent of our encoder), encoder round-trips
over every payload shape, and hand-built SPLIT blosc frames exercising the
region-based layout sniffing.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from mdio_cpp_spark.sources import blosc1
from tests.oracles.lz4 import (
    LZ4FormatError,
    compress_block,
    decompress_block,
)

# ------------------------------------------------------ block format itself


def test_decode_handcrafted_sequences():
    # [token 0x50: 5 literals, no match end] "hello"
    assert decompress_block(b"\x50hello") == b"hello"
    # 4 literals "abcd", then match len 8 offset 4 (overlap → abcdabcdabcd),
    # then terminating 1 literal "!"
    blk = bytes([0x44]) + b"abcd" + b"\x04\x00" + bytes([0x10]) + b"!"
    assert decompress_block(blk) == b"abcdabcdabcd!"
    # long literal run: token 0xF0, ext 255+3 → 15+255+3 = 273 literals
    lits = bytes(range(256)) + bytes(17)
    blk = bytes([0xF0, 255, 3]) + lits
    assert decompress_block(blk) == lits
    # long match: 4 lits, match 15+4+255+0... ext: token low=15 → 19+ext
    blk = bytes([0x4F]) + b"wxyz" + b"\x04\x00" + bytes([255, 0]) + bytes([0x10]) + b"."
    out = decompress_block(blk)
    assert out == b"wxyz" + (b"wxyz" * 70)[: 15 + 4 + 255] + b"."


def test_decode_rejects_malformed():
    with pytest.raises(LZ4FormatError):
        decompress_block(b"\x50hi")  # literal run past end
    with pytest.raises(LZ4FormatError):
        decompress_block(bytes([0x14]) + b"a" + b"\x04")  # truncated offset
    with pytest.raises(LZ4FormatError):
        decompress_block(bytes([0x10]) + b"a" + b"\x05\x00")  # offset > produced
    with pytest.raises(LZ4FormatError):
        decompress_block(bytes([0x10]) + b"a" + b"\x00\x00")  # zero offset
    with pytest.raises(LZ4FormatError):
        decompress_block(b"\x50hello", expected_size=9)  # wrong size


def test_decode_bomb_bounded_by_expected_size():
    """A hostile block whose RLE overlap match declares ~100 MB of output
    must abort AT the declared-size boundary, not after materializing the
    expansion — the early in-loop check bounds memory to expected_size."""
    # token 0x1F: 1 literal, match len 15+4+ext; offset 1 → RLE of 'a'
    ext = bytes([255]) * 400_000 + bytes([0])     # mlen ≈ 102e6
    blk = bytes([0x1F]) + b"a" + b"\x01\x00" + ext + bytes([0x10]) + b"."
    with pytest.raises(LZ4FormatError, match="exceeds declared size"):
        decompress_block(blk, expected_size=16)
    # literal-run form of the same bomb: 100 KB of literals vs declared 8
    lit = bytes([0xF0]) + bytes([255]) * 392 + bytes([4]) + bytes(100_000)
    with pytest.raises(LZ4FormatError, match="exceeds declared size"):
        decompress_block(lit, expected_size=8)


@pytest.mark.parametrize("payload", [
    b"",
    b"x",
    b"hello world hello world hello world",
    bytes(10_000),                                   # long RLE overlap matches
    bytes(range(256)) * 64,                          # periodic, offset 256
    np.arange(4096, dtype="<f8").tobytes(),          # typical shuffled-ish data
    np.random.default_rng(7).bytes(5000),            # incompressible
])
def test_block_roundtrip(payload):
    assert decompress_block(compress_block(payload), len(payload)) == payload


def test_compressor_actually_compresses():
    assert len(compress_block(bytes(100_000))) < 1000
    assert len(compress_block(b"ab" * 50_000)) < 1000


# ------------------------------------------------------ blosc-lz4 frames


@pytest.mark.parametrize("dtype,shuffle", [
    ("<i4", 1), ("<f8", 1), ("<f8", 2), ("<i2", 0), ("<u8", 1),
])
def test_blosc_lz4_roundtrip(dtype, shuffle):
    data = (np.arange(6000) % 997).astype(dtype).tobytes()
    frame = blosc1.compress(data, typesize=np.dtype(dtype).itemsize,
                            shuffle=shuffle, cname="lz4")
    assert (frame[2] >> 5) & 0x7 == 1  # lz4 codec id in the header
    assert blosc1.decompress(frame) == data


def test_blosc_lz4_multiblock_split_and_leftover():
    # blocksize 2048, typesize 8 → 2048/8=256 >= 128: full blocks SPLIT;
    # the 100-byte leftover block must not
    data = np.arange(1612, dtype="<f8").tobytes() + bytes(100)
    frame = blosc1.compress(data, typesize=8, blocksize=2048, cname="lz4")
    assert blosc1.decompress(frame) == data


def test_blosc_lz4_no_split_when_small_streams():
    # 512/8 = 64 < MIN_BUFFERSIZE(128): full blocks stay single-stream
    data = np.arange(256, dtype="<f8").tobytes()
    frame = blosc1.compress(data, typesize=8, blocksize=512, cname="lz4")
    assert blosc1.decompress(frame) == data


def test_decode_handcrafted_split_frame():
    """A SPLIT lz4 frame built by hand per c-blosc's layout (typesize
    sub-streams, each [i32 csize|stream], raw marker csize==neblock) —
    decoder must sniff the split from the region extent alone."""
    typesize, nblock_items = 4, 512
    block = np.arange(nblock_items, dtype="<i4").tobytes()  # 2048 B
    shuffled = blosc1._byte_shuffle(block, typesize)
    ne = len(block) // typesize
    streams = b""
    for s in range(typesize):
        sub = shuffled[s * ne : (s + 1) * ne]
        comp = compress_block(sub)
        if len(comp) >= ne:  # raw fallback marker
            streams += struct.pack("<i", ne) + sub
        else:
            streams += struct.pack("<i", len(comp)) + comp
    cbytes = 16 + 4 + len(streams)
    head = struct.pack("<BBBB iii", 2, 1, (1 << 5) | 0x1, typesize,
                       len(block), len(block), cbytes)
    frame = head + struct.pack("<i", 20) + streams
    assert blosc1.decompress(frame) == block


def test_codecs_v2_blosc_lz4_without_wheel():
    from mdio_cpp_spark.sources import codecs

    data = np.arange(3000, dtype="<i8").tobytes()
    comp = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "typesize": 8}
    enc = codecs.compress_v2(data, comp)
    assert codecs.decompress_v2(enc, comp) == data
    # v3 chain too
    chain = [{"name": "bytes", "configuration": {"endian": "little"}},
             {"name": "blosc", "configuration": {"cname": "lz4", "typesize": 8,
                                                 "shuffle": "shuffle"}}]
    enc3 = codecs.compress_v3(data, chain)
    assert codecs.decompress_v3(enc3, chain) == data


@pytest.mark.parametrize("version", [2, 3])
def test_store_level_blosc_lz4_roundtrip(tmp_path, version):
    """Both zarr versions: a store created with blosc-lz4 writes real split
    frames and reads back bit-exact, wheel-free."""
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / f"lz4_v{version}.zarr")
    st = ZarrStore.create(root, version=version)
    st.create_array("v", shape=(700,), chunks=(256,), dtype="float64",
                    dims=("i",),
                    compressor={"id": "blosc", "cname": "lz4", "shuffle": 1})
    if version == 2:
        st.consolidate()
    vals = (np.arange(700, dtype=np.float64) % 113) * 0.25
    st.write_array_numpy("v", vals)
    got = ZarrStore.open(root).read_array("v", {"i": (0, 700)})
    np.testing.assert_array_equal(got, vals)


def test_from_json_default_cname_now_honored(tmp_path):
    """A spec saying just {"name": "blosc"} means cname=lz4 in the
    reference (dataset_factory.h:237-244 resolve_blosc_cname); from_json
    must now WRITE real lz4 frames for it instead of the zlib fallback."""
    from mdio_cpp_spark.model import MdioDataset

    spec = {
        "metadata": {"name": "lz4_default", "apiVersion": "1.0.0"},
        "variables": [
            {"name": "v", "dataType": "float64",
             "dimensions": [{"name": "i", "size": 600}],
             "metadata": {"chunkGrid": {"name": "regular",
                                        "configuration": {"chunkShape": [256]}}},
             "compressor": {"name": "blosc"}},
            {"name": "i", "dataType": "int64",
             "dimensions": [{"name": "i", "size": 600}]},
        ],
    }
    root = str(tmp_path / "lz4_default.zarr")
    ds = MdioDataset.from_json(spec, root)
    vals = (np.arange(600, dtype=np.float64) % 89) * 2.0
    ds.store.write_array_numpy("v", vals)
    chunk0 = ds.store._kv.read(ds.store.array_meta("v").chunk_key((0,)))
    assert (chunk0[2] >> 5) & 0x7 == 1  # lz4 codec id in the frame header
    got = MdioDataset.open(root).var("v").read()
    np.testing.assert_array_equal(got, vals)


def test_zlib_frames_unchanged_by_lz4_support():
    """The production write codec's bytes must be byte-stable: the region
    sniffing and cname plumbing must not perturb zlib frames."""
    data = np.arange(2000, dtype="<f4").tobytes()
    frame = blosc1.compress(data, typesize=4)
    assert (frame[2] >> 5) & 0x7 == 3
    assert blosc1.decompress(frame) == data
    # single-stream region: 16 + 4*nblocks + 4 + csize == cbytes
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", frame, 4)
    import math
    nblocks = math.ceil(nbytes / blocksize)
    (first_off,) = struct.unpack_from("<i", frame, 16)
    (csize,) = struct.unpack_from("<i", frame, first_off)
    payload = frame[first_off + 4 : first_off + 4 + csize]
    assert zlib.decompress(payload)  # a plain zlib stream, wheel-free


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(data=st.binary(min_size=0, max_size=4096))
    def test_lz4_block_roundtrip_property(data):
        assert decompress_block(compress_block(data), len(data)) == data

    @settings(max_examples=40, deadline=None)
    @given(
        data=st.binary(min_size=0, max_size=4096),
        typesize=st.sampled_from([1, 2, 4, 8, 16]),
        shuffle=st.sampled_from([0, 1, 2]),
        blocksize=st.sampled_from([0, 256, 1024, 2048]),
    )
    def test_blosc_lz4_frame_roundtrip_property(data, typesize, shuffle, blocksize):
        frame = blosc1.compress(data, typesize=typesize, shuffle=shuffle,
                                blocksize=blocksize, cname="lz4")
        assert blosc1.decompress(frame) == data
except ImportError:  # pragma: no cover
    pass
