"""The native lz4/snappy/zstd kernels (pyarrow) against the pure-Python
oracles in tests/oracles/, and their exact-length guards.

pyarrow's ``lz4_raw`` and ``snappy`` decoders pad a stream that decodes
SHORT of the requested size out to that size without raising; blosc1 adds
the guards that catch it. Every stream here that decodes to anything but
its declared size — short, long, truncated or corrupt — must raise
``CodecError`` through the codec entry points, in single-stream and
split-stream blosc frames and in the v3 ``zstd`` chain.

The differential half runs in both directions with fixed seeds: the
oracles decode native-encoded streams bit for bit, and the native path
decodes oracle-encoded streams and whole frames bit for bit. The oracles
are the kernels the engine shipped before, so oracle-encoded frames stand
for stores written by the old encoder.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from mdio_cpp_spark.sources import blosc1
from mdio_cpp_spark.sources.codecs import CodecError, decompress_v2, decompress_v3
from tests.oracles import lz4 as o_lz4
from tests.oracles import snappy as o_snappy
from tests.oracles import zstd as o_zstd

_IDS = {"lz4": 1, "snappy": 2, "zstd": 4}
_ORACLE_ENCODE = {
    1: o_lz4.compress_block,
    2: o_snappy.compress_block,
    4: o_zstd.compress,
}
_ORACLE_DECODE = {
    1: o_lz4.decompress_block,
    2: o_snappy.decompress_block,
    4: o_zstd.decompress,
}
_BLOSC = {"id": "blosc"}
_ZSTD_CHAIN = [{"name": "bytes", "configuration": {"endian": "little"}},
               {"name": "zstd", "configuration": {"level": 3}}]


def _payloads(seed: int) -> list[bytes]:
    """Seeded mix of payload shapes: compressible floats (byte-shuffled
    and not), runs, random bytes, text and odd small sizes."""
    rng = np.random.default_rng(seed)
    walk = np.cumsum(rng.normal(size=int(rng.integers(2000, 20000))))
    floats = walk.astype("<f4").tobytes()
    return [
        floats,
        blosc1._byte_shuffle(floats, 4),
        bytes(int(rng.integers(1, 5000))),
        rng.integers(0, 256, int(rng.integers(1, 3000)), dtype=np.uint8).tobytes(),
        rng.integers(0, 4, int(rng.integers(100, 70000)), dtype=np.uint8).tobytes(),
        b"hello world " * int(rng.integers(1, 500)),
        bytes([int(rng.integers(0, 256))]),
    ]


def _frame(codec: int, typesize: int, nbytes: int, streams: list[bytes]) -> bytes:
    """One-block blosc1 frame around hand-picked streams: one stream is a
    single-stream block, ``typesize`` streams a split block."""
    body = b"".join(struct.pack("<i", len(s)) + s for s in streams)
    cbytes = 16 + 4 + len(body)
    head = struct.pack("<BBBB iii", 2, 1, codec << 5, typesize, nbytes, nbytes, cbytes)
    return head + struct.pack("<i", 20) + body


def _native(codec: int, data: bytes) -> bytes:
    return blosc1._encode_stream(codec, data, 5)


# ------------------------------------------------------- exact-length guards


def _corrupt(codec: int, enc: bytes, want: int) -> bytes:
    """A structurally corrupt stream for ``want`` bytes. lz4 and snappy
    carry no checksum, so a flipped literal byte decodes silently on every
    implementation (c-blosc's too); corruption here is a copy reaching
    before the start of the output, or a reserved zstd block type."""
    if codec == 1:  # 1 literal, then a match at offset 0xFFFF
        return b"\x10a\xff\xff" + bytes(8)
    if codec == 2:  # preamble, 1 literal, then a COPY-2 at offset 0xFFFF
        head = bytearray()
        n = want
        while n >= 0x80:
            head.append(n & 0x7F | 0x80)
            n >>= 7
        return bytes(head) + bytes([n, 0x00]) + b"a\x0e\xff\xff"
    fhd = enc[4]  # zstd: first block header → reserved block type 3
    single = fhd & 0x20
    pos = 5 + (0 if single else 1) + (1 if single else 0, 2, 4, 8)[fhd >> 6]
    bad = bytearray(enc)
    bad[pos] |= 0x6
    return bytes(bad)


def _bad_streams(codec: int, data: bytes) -> dict[str, tuple[bytes, int]]:
    """stream, declared size → every way a stream can disagree with it."""
    enc = _native(codec, data)
    n = len(data)
    return {
        "short": (enc, n + 100),
        "short_by_one": (enc, n + 1),
        "long": (enc, n - 100),
        "long_by_one": (enc, n - 1),
        "truncated": (enc[: len(enc) // 2], n),
        "corrupt": (_corrupt(codec, enc, n), n),
    }


@pytest.mark.parametrize("cname", sorted(_IDS))
def test_single_stream_length_guards(cname):
    codec = _IDS[cname]
    data = np.arange(4000, dtype="<f4").tobytes()
    assert decompress_v2(_frame(codec, 1, len(data), [_native(codec, data)]),
                         _BLOSC) == data
    for case, (stream, want) in _bad_streams(codec, data).items():
        assert len(stream) != want  # never the stored-raw rule
        with pytest.raises(CodecError):
            decompress_v2(_frame(codec, 1, want, [stream]), _BLOSC)
            pytest.fail(f"{cname} {case} decoded without error")


@pytest.mark.parametrize("cname", sorted(_IDS))
def test_split_stream_length_guards(cname):
    """A split block's sub-streams are each checked against block/typesize:
    one bad lane among good ones must raise."""
    codec, typesize, lane = _IDS[cname], 4, 1024
    lanes = [(np.arange(lane) * (k + 1) % 251).astype(np.uint8).tobytes()
             for k in range(typesize)]
    good = [_native(codec, b) for b in lanes]
    nbytes = typesize * lane
    assert decompress_v2(_frame(codec, typesize, nbytes, good), _BLOSC) \
        == b"".join(lanes)
    enc = good[1]
    cases = {
        "short": _native(codec, lanes[1][:-100]),
        "short_by_one": _native(codec, lanes[1][:-1]),
        "long": _native(codec, lanes[1] + bytes(100)),
        "long_by_one": _native(codec, lanes[1] + b"\x00"),
        "truncated": enc[: len(enc) // 2],
        "corrupt": _corrupt(codec, enc, lane),
    }
    for case, stream in cases.items():
        streams = [good[0], stream, good[2], good[3]]
        with pytest.raises(CodecError):
            decompress_v2(_frame(codec, typesize, nbytes, streams), _BLOSC)
            pytest.fail(f"{cname} {case} split lane decoded without error")


def test_blosc_frame_declaring_more_than_its_lz4_stream_holds():
    """The probe's case: a stream 1,500 B long declared as 1,600 B."""
    data = bytes(range(250)) * 6
    enc = _native(_IDS["lz4"], data)
    with pytest.raises(CodecError, match="short"):
        decompress_v2(_frame(_IDS["lz4"], 1, len(data) + 100, [enc]), _BLOSC)


def test_snappy_preamble_must_match_the_block():
    data = b"abcdefgh" * 300
    enc = _native(_IDS["snappy"], data)
    assert o_snappy._read_varint(enc, 0)[0] == len(data)
    with pytest.raises(CodecError, match="declares"):
        decompress_v2(_frame(_IDS["snappy"], 1, len(data) + 8, [enc]), _BLOSC)
    with pytest.raises(CodecError, match="preamble"):
        decompress_v2(_frame(_IDS["snappy"], 1, len(data), [b"\xff" * 6]), _BLOSC)


def test_v3_zstd_chain_length_guards():
    data = np.cumsum(np.ones(5000, dtype="<f8")).tobytes()
    from mdio_cpp_spark.sources.codecs import compress_v3

    enc = compress_v3(data, _ZSTD_CHAIN)
    assert decompress_v3(enc, _ZSTD_CHAIN, len(data)) == data
    assert decompress_v3(enc, _ZSTD_CHAIN) == data  # size from the frame header
    cases = {
        "short": (enc, len(data) + 100),
        "long": (enc, len(data) - 8),
        "truncated": (enc[:-7], len(data)),
        "corrupt": (_corrupt(4, enc, len(data)), len(data)),
        "not_zstd": (b"\x00" * 32, len(data)),
    }
    for case, (stream, want) in cases.items():
        with pytest.raises(CodecError, match="zstd"):
            decompress_v3(stream, _ZSTD_CHAIN, want)
            pytest.fail(f"zstd {case} decoded without error")


def test_v3_zstd_without_a_size_needs_one_in_the_frame():
    # a frame header with no Frame_Content_Size: FHD 0x00 (window byte)
    headerless = b"\x28\xb5\x2f\xfd\x00\x48" + b"\x01\x00\x00"
    with pytest.raises(CodecError, match="content size"):
        decompress_v3(headerless, _ZSTD_CHAIN)


# --------------------------------------------------------- differential


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("cname", sorted(_IDS))
def test_oracle_decodes_native_streams(cname, seed):
    codec = _IDS[cname]
    for data in _payloads(seed):
        enc = _native(codec, data)
        assert _ORACLE_DECODE[codec](enc, len(data)) == data


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("cname", sorted(_IDS))
def test_native_decodes_oracle_streams(cname, seed):
    codec = _IDS[cname]
    for data in _payloads(seed):
        enc = _ORACLE_ENCODE[codec](data)
        if len(enc) == len(data):
            continue  # would be read as a stored-raw stream
        assert blosc1._decode_stream(codec, enc, len(data)) == data


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("cname", sorted(_IDS))
def test_native_decodes_oracle_frames(cname, seed, monkeypatch):
    """Frames from the pure-Python encoder (split lz4 lanes included)
    decode bit for bit on the native path, across shuffles, typesizes and
    block sizes."""
    codec = _IDS[cname]
    cases = [(data, ts, shuffle, bs)
             for data in _payloads(seed)
             for ts, shuffle, bs in ((4, 1, 0), (8, 2, 4096), (1, 0, 1024),
                                     (2, 1, 2048))]
    with monkeypatch.context() as m:
        m.setattr(blosc1, "_encode_stream",
                  lambda c, sub, clevel: _ORACLE_ENCODE[c](sub))
        frames = [blosc1.compress(d, typesize=ts, shuffle=sh, blocksize=bs,
                                  cname=cname) for d, ts, sh, bs in cases]
    for (data, *_), frame in zip(cases, frames):
        assert decompress_v2(frame, _BLOSC) == data


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("cname", sorted(_IDS))
def test_oracle_decodes_native_frames(cname, seed, monkeypatch):
    codec = _IDS[cname]
    cases = [(data, ts, shuffle, bs)
             for data in _payloads(seed)
             for ts, shuffle, bs in ((4, 1, 0), (8, 2, 4096), (2, 1, 2048))]
    frames = [blosc1.compress(d, typesize=ts, shuffle=sh, blocksize=bs,
                              cname=cname) for d, ts, sh, bs in cases]

    def oracle_stream(c, raw, want):
        return bytes(raw) if len(raw) == want else _ORACLE_DECODE[c](raw, want)

    monkeypatch.setattr(blosc1, "_decode_stream", oracle_stream)
    for (data, *_), frame in zip(cases, frames):
        assert blosc1.decompress(frame) == data


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_v3_zstd_chain_both_directions(seed):
    from mdio_cpp_spark.sources.codecs import compress_v3

    for data in _payloads(seed):
        assert o_zstd.decompress(compress_v3(data, _ZSTD_CHAIN), len(data)) == data
        assert decompress_v3(o_zstd.compress(data), _ZSTD_CHAIN, len(data)) == data
