"""Pure-Python blosc1 (zlib-cname) codec: frame format, shuffles, and the
store-level round-trip gate that makes reference-written blosc-zlib stores
readable with no wheel (the reference accepts ONLY blosc,
dataset_factory.h:295-297,344-346)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from mdio_cpp_spark.sources import blosc1
from mdio_cpp_spark.sources.codecs import CodecError, compress_v2, decompress_v2


# ------------------------------------------------------------- frame codec


@pytest.mark.parametrize("shuffle", [0, 1, 2])
@pytest.mark.parametrize(
    "dtype", ["<f8", "<f4", "<i4", "<i2", "|u1", "<u8"]
)
def test_roundtrip_dtypes_shuffles(dtype, shuffle):
    rng = np.random.default_rng(7)
    arr = (rng.normal(0, 1000, 10_000)).astype(np.dtype(dtype).base)
    data = arr.tobytes()
    ts = np.dtype(dtype).itemsize
    frame = blosc1.compress(data, typesize=ts, shuffle=shuffle)
    assert blosc1.decompress(frame) == data


def test_roundtrip_multiblock_with_tail():
    # > default block size AND a block-incomplete tail AND an
    # element-incomplete tail byte
    data = np.arange(100_000, dtype="<i8").tobytes() + b"xyz"
    frame = blosc1.compress(data, typesize=8, shuffle=1, blocksize=1 << 14)
    assert blosc1.decompress(frame) == data
    # multi-block really happened
    nbytes, blocksize, _ = struct.unpack_from("<iii", frame, 4)
    assert nbytes == len(data) and blocksize < nbytes


def test_roundtrip_empty_and_tiny():
    assert blosc1.decompress(blosc1.compress(b"", typesize=8)) == b""
    assert blosc1.decompress(blosc1.compress(b"a", typesize=8)) == b"a"


def test_incompressible_memcpy_fallback():
    rng = np.random.default_rng(1)
    data = rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()  # random: no gain
    frame = blosc1.compress(data, typesize=1, shuffle=0)
    assert frame[2] & 0x2  # memcpy flag
    assert blosc1.decompress(frame) == data


def test_byte_shuffle_layout_is_the_public_transpose():
    # 3 elements of 4 bytes: shuffle groups byte j of every element
    data = bytes(range(12))
    shuffled = blosc1._byte_shuffle(data, 4)
    assert shuffled == bytes([0, 4, 8, 1, 5, 9, 2, 6, 10, 3, 7, 11])
    assert blosc1._byte_unshuffle(shuffled, 4) == data
    # element-incomplete tail rides unshuffled
    data13 = data + b"\xff"
    assert blosc1._byte_unshuffle(blosc1._byte_shuffle(data13, 4), 4) == data13


def test_bit_shuffle_is_a_bit_plane_transpose():
    # 8 one-byte elements: plane b holds bit b (LSB-first) of every element
    data = bytes([0b00000001] * 8)
    shuffled = blosc1._bit_shuffle(data, 1)
    assert shuffled == bytes([0xFF, 0, 0, 0, 0, 0, 0, 0])
    assert blosc1._bit_unshuffle(shuffled, 1) == data
    rng = np.random.default_rng(3)
    blob = rng.integers(0, 256, 16 * 33, dtype=np.uint8).tobytes() + b"\x01\x02"
    assert blosc1._bit_unshuffle(blosc1._bit_shuffle(blob, 2), 2) == blob


def test_decode_handcrafted_frame_from_spec():
    """Decoder vs a frame built BY HAND from the public container layout —
    independent of our encoder's choices (two blocks, one stored raw)."""
    block1 = bytes(range(64)) * 4  # 256 B, compressible
    block2 = bytes([7] * 100)  # short last block
    nbytes, blocksize = 356, 256
    c1 = zlib.compress(block1, 5)
    streams = [struct.pack("<i", len(c1)) + c1]
    streams.append(struct.pack("<i", 100) + block2)  # csize==bsize → raw
    head = struct.pack("<BBBB iii", 2, 1, 3 << 5, 1, nbytes, blocksize,
                       16 + 8 + sum(len(s) for s in streams))
    off1 = 16 + 8
    off2 = off1 + len(streams[0])
    frame = head + struct.pack("<ii", off1, off2) + b"".join(streams)
    assert blosc1.decompress(frame) == block1 + block2


def test_foreign_cname_gated_loudly():
    data = np.arange(100, dtype="<i4").tobytes()
    frame = bytearray(blosc1.compress(data, typesize=4))
    frame[2] = (frame[2] & 0x1F) | (4 << 5)  # rewrite codec id → zstd
    with pytest.raises(blosc1.BloscFormatError, match="zstd"):
        blosc1.decompress(bytes(frame))
    # ... but a memcpy'd frame decodes regardless of its codec id
    rnd = np.random.default_rng(2).integers(0, 256, 64, dtype=np.uint8).tobytes()
    mframe = bytearray(blosc1.compress(rnd, typesize=1))
    assert mframe[2] & 0x2
    mframe[2] = (mframe[2] & 0x1F) | (4 << 5)
    assert blosc1.decompress(bytes(mframe)) == rnd


def test_corrupt_frames_raise():
    with pytest.raises(blosc1.BloscFormatError):
        blosc1.decompress(b"\x00" * 8)  # too short
    good = blosc1.compress(np.arange(1000, dtype="<f8").tobytes(), typesize=8)
    with pytest.raises(blosc1.BloscFormatError):
        blosc1.decompress(good[:20])  # truncated


def test_codecs_v2_blosc_zlib_without_wheel():
    data = np.arange(2048, dtype="<f8").tobytes()
    comp = {"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1, "typesize": 8}
    enc = compress_v2(data, comp)
    assert len(enc) < len(data)
    assert decompress_v2(enc, comp) == data
    # every cname is handled natively now; an unknown one errors loudly
    for cname in ("snappy", "zstd", "lz4", "blosclz"):
        enc_n = compress_v2(data, {"id": "blosc", "cname": cname,
                                   "shuffle": 1, "typesize": 8})
        assert decompress_v2(enc_n, comp) == data, cname
    with pytest.raises(CodecError, match="unknown blosc cname"):
        compress_v2(data, {"id": "blosc", "cname": "lzma"})


# ------------------------------------------------------- store-level gates


def _roundtrip_store(spark, tmp_path, version: int):
    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / f"blz_v{version}.zarr")
    st = ZarrStore.create(root, version=version)
    comp = {"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1, "typesize": 8}
    st.create_array(
        "v", shape=(500,), chunks=(128,), dtype="float64", dims=("i",),
        compressor=comp,
    )
    if version == 2:
        st.consolidate()
    vals = np.arange(500, dtype=np.float64) * 1.5
    st.write_array_numpy("v", vals)
    return root, vals


@pytest.mark.parametrize("version", [2, 3])
def test_zarr50_blosc_zlib_roundtrip(spark, tmp_path, version):
    """zarr50 gate: write + distributed scan of a blosc-zlib store on BOTH
    zarr versions, AND the independent spec-derived reader (zero engine
    imports) parses the same bytes to the same values."""
    from mdio_cpp_spark.sources.reader import scan_array

    root, vals = _roundtrip_store(spark, tmp_path, version)
    rows = scan_array(spark, root, "v").collect()
    got = np.array([r["value"] for r in sorted(rows, key=lambda r: r["i"])])
    assert np.array_equal(got, vals)

    from tests.spec_zarr_reader import read_zarr_array

    independent = read_zarr_array(root, "v")
    assert np.array_equal(independent, vals)

    # the stored chunk bytes really are blosc frames (codec id 3 = zlib)
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    st = ZarrStore.open(root)
    raw = st.read_bytes(st.array_meta("v").chunk_key((0,)))
    assert raw is not None and (raw[2] >> 5) & 0x7 == 3


def test_blosc_store_spark_write_path(spark, tmp_path):
    """The distributed writer encodes blosc-zlib chunks too (executor-side
    encode through the same codec seam)."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "blzw.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array(
        "v", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",),
        compressor={"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1,
                    "typesize": 8},
    )
    st.consolidate()
    df = spark.range(1000).select(F.col("id").alias("i"), (F.col("id") * 2.0).alias("value"))
    write_array(df, root, "v")
    got = sorted((r["i"], r["value"]) for r in scan_array(spark, root, "v").collect())
    assert got == [(i, i * 2.0) for i in range(1000)]


# ------------------------------------------------------- property-based


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        data=st.binary(min_size=0, max_size=4096),
        typesize=st.sampled_from([1, 2, 3, 4, 8, 16]),
        shuffle=st.sampled_from([0, 1, 2]),
        blocksize=st.sampled_from([0, 64, 257, 1024]),
    )
    def test_roundtrip_property(data, typesize, shuffle, blocksize):
        """Any bytes × any typesize × any shuffle × odd block sizes must
        round-trip exactly (tails, partial blocks, incompressible runs)."""
        frame = blosc1.compress(
            data, typesize=typesize, shuffle=shuffle, blocksize=blocksize
        )
        assert blosc1.decompress(frame) == data

    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=600),
        typesize=st.sampled_from([2, 4, 8]),
    )
    def test_shuffle_inverse_property(n, typesize):
        rng = np.random.default_rng(n)
        blob = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert blosc1._byte_unshuffle(blosc1._byte_shuffle(blob, typesize), typesize) == blob
        assert blosc1._bit_unshuffle(blosc1._bit_shuffle(blob, typesize), typesize) == blob
except ImportError:  # pragma: no cover
    pass


def test_frame_corruption_fuzz_never_hangs_or_overallocates():
    """Random single-byte corruption of whole blosc1 frames, one per
    cname: every mutation decodes to a bounded buffer or raises
    BloscFormatError — the shared bomb-bound posture of every block codec
    (lz4/blosclz/snappy/zstd streams sit inside these frames, so this
    fuzzes their container dispatch too)."""
    import random

    rng = random.Random(4242)
    data = (np.arange(6000) % 251).astype("<f8").tobytes()
    frames = [blosc1.compress(data, typesize=8, shuffle=1, cname=c)
              for c in ("zlib", "lz4", "blosclz", "snappy", "zstd")]
    for base in frames:
        for _ in range(250):
            mut = bytearray(base)
            i = rng.randrange(len(mut))
            mut[i] ^= 1 << rng.randrange(8)
            try:
                out = blosc1.decompress(bytes(mut))
                assert len(out) <= len(data) * 64
            except (blosc1.BloscFormatError, zlib.error):
                pass


def _deflate_zeros(mib: int, wbits: int = 15) -> bytes:
    """A zlib (``wbits`` 15) or gzip (31) stream of ``mib`` MiB of zeros,
    built a MiB at a time: about 1 KiB of stream per MiB of output."""
    c = zlib.compressobj(9, zlib.DEFLATED, wbits)
    zero = bytes(1 << 20)
    return b"".join(c.compress(zero) for _ in range(mib)) + c.flush()


def _peak_bytes(fn) -> int:
    """Peak traced allocation while ``fn`` runs."""
    import tracemalloc

    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _raises(exc, fn, *args):
    def call():
        with pytest.raises(exc):
            fn(*args)
    return call


def test_zlib_bomb_in_a_blosc_frame_raises_in_bounded_memory():
    """A frame declaring one 1 KiB block whose zlib stream inflates to
    64 MiB: the block's inflate stops one byte past 1 KiB and raises."""
    stream = _deflate_zeros(64)
    body = struct.pack("<ii", 20, len(stream)) + stream
    header = bytes([blosc1.BLOSC_VERSION_FORMAT, 1, blosc1._ZLIB_ID << 5, 1])
    frame = header + struct.pack("<iii", 1024, 1024, 16 + len(body)) + body
    assert _peak_bytes(_raises(blosc1.BloscFormatError, blosc1.decompress, frame)) < 1 << 20


@pytest.mark.parametrize("wbits,cid", [(15, "zlib"), (31, "gzip")])
def test_zlib_gzip_chunk_bombs_raise_in_bounded_memory(wbits, cid):
    """A v2 compressor or a v3 chain stage told the chunk's raw size
    stops inflating one byte past it and raises CodecError."""
    from mdio_cpp_spark.sources.codecs import decompress_v3

    bomb = _deflate_zeros(64, wbits)
    chain = [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": cid}]
    assert _peak_bytes(_raises(CodecError, decompress_v2, bomb, {"id": cid}, 1024)) < 1 << 20
    assert _peak_bytes(_raises(CodecError, decompress_v3, bomb, chain, 1024)) < 1 << 20


@pytest.mark.parametrize("wbits,cid", [(15, "zlib"), (31, "gzip")])
def test_bounded_inflate_wants_exactly_the_raw_size(wbits, cid):
    """Exact size decodes bit-identically to the unbounded inflate; one
    byte short or long raises CodecError; a truncated stream still raises
    zlib's own error."""
    raw = (np.arange(4096) % 251).astype("<f8").tobytes()
    enc = compress_v2(raw, {"id": cid, "level": 5})
    assert decompress_v2(enc, {"id": cid}, len(raw)) == decompress_v2(enc, {"id": cid}) == raw
    for size in (len(raw) - 1, len(raw) + 1):
        with pytest.raises(CodecError):
            decompress_v2(enc, {"id": cid}, size)
    with pytest.raises(zlib.error):
        decompress_v2(enc[: len(enc) // 2], {"id": cid}, len(raw))


def test_zlib_bomb_chunk_in_a_store_raises_in_bounded_memory(tmp_path):
    """The v2 read path passes the chunk's raw size, so a bomb written in
    place of a zlib chunk raises on read without inflating it."""
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    st = ZarrStore.create(str(tmp_path / "bomb.zarr"), version=2)
    st.create_array("v", shape=(8, 8), chunks=(8, 8), dtype="float64",
                    dims=("a", "b"), compressor={"id": "zlib", "level": 5})
    st.write_bytes("v/0.0", _deflate_zeros(64))
    assert _peak_bytes(_raises(CodecError, st.read_array, "v")) < 1 << 20
