"""blosc1 frame codec over native stream kernels.

The reference engine accepts ONLY blosc compression
(dataset_factory.h:295-297,344-346) and runs it through c-blosc. No blosc
wheel is installable here (probe log tests/INTEROP_PROBE.md), but the
blosc1 container format is public (c-blosc README_HEADER.rst) and its
inner streams are ordinary codec streams, so this module implements the
frame natively:

  header (16 B, little-endian):
      version u8 | versionlz u8 | flags u8 | typesize u8 |
      nbytes i32 | blocksize i32 | cbytes i32
  flags: bit0 byte-shuffle, bit1 memcpy (raw payload follows the header),
      bit2 bit-shuffle, bits5-7 codec id
      (0 blosclz, 1 lz4/lz4hc, 2 snappy, 3 zlib, 4 zstd)
  non-memcpy payload: i32 bstarts[nblocks] (absolute offsets into the
      frame), then per block ``i32 csize | stream``. A stream whose csize
      equals the block's uncompressed size is STORED RAW (c-blosc's
      incompressible-block fallback).
  shuffle: applied per BLOCK before compression. Byte-shuffle transposes
      the block's (n_items × typesize) byte matrix; trailing bytes that
      don't fill an element ride unshuffled at the block tail. Bit-shuffle
      transposes bit-planes over groups of ``typesize*8`` bytes
      (little-endian bit order, the bitshuffle library's layout), same
      tail rule.

Stream kernels, one per cname:

  zlib     stdlib ``zlib``
  lz4      pyarrow ``lz4_raw`` (raw LZ4 block format)
  snappy   pyarrow ``snappy`` (raw snappy block format)
  zstd     pyarrow ``zstd`` (RFC 8878 frames; c-blosc's clevel→level map)
  blosclz  sources/blosclz.py — c-blosc's own LZ77 has no other
           implementation, so it stays pure Python

The pyarrow kernels are C++ and release the GIL, so ``map_chunks``' pool
decodes blocks in parallel. Every stream must decode to EXACTLY its
declared size: pyarrow's ``lz4_raw`` and ``snappy`` pad a short stream out
to the requested size without raising, so lz4 is also decoded into one
byte less (a stream that truly fills the block overflows it) and snappy's
varint length preamble is checked against the block size. zstd raises on
a mismatch in either direction. The pure-Python lz4/snappy/zstd codecs
under tests/oracles/ check these kernels differentially.

Split streams: c-blosc 1.x (blosc.c ``split_block``) splits blosclz/lz4
FULL blocks into ``typesize`` sub-streams, each with its own ``i32 csize |
stream`` header; leftover blocks never split, and zlib/snappy/zstd never
split. DECODE does not trust any predicate: each block's region extent
(next block offset, else cbytes) decides whether one stream or
``typesize`` streams are present — a single-stream region is exactly
``4 + csize`` bytes, a split one cannot be — so reading real c-blosc
frames is robust even if the predicate's constants drift between
releases. ENCODE replicates the predicate (split when ``typesize <= 16``
and ``blocksize/typesize >= 128``) so c-blosc's predicate-driven decoder
lays our frames out the same way. Memcpy'd frames decode regardless of
codec id (no decompression is involved).
"""

from __future__ import annotations

import math
import struct
import zlib

from functools import lru_cache

import numpy as np
import pyarrow as pa

from mdio_cpp_spark.sources import blosclz as _blosclz


class BloscFormatError(RuntimeError):
    pass


BLOSC_VERSION_FORMAT = 2
_CODEC_NAMES = {0: "blosclz", 1: "lz4", 2: "snappy", 3: "zlib", 4: "zstd"}
_CODEC_IDS = {name: cid for cid, name in _CODEC_NAMES.items()}
_ZLIB_ID = 3
_LZ4_ID = 1
_BLOSCLZ_ID = 0
_SNAPPY_ID = 2
_ZSTD_ID = 4
# c-blosc split predicate constants (blosc.c: MAX_SPLITS / MIN_BUFFERSIZE)
_MAX_SPLITS = 16
_MIN_BUFFERSIZE = 128
_FLAG_SHUFFLE = 0x1
_FLAG_MEMCPY = 0x2
_FLAG_BITSHUFFLE = 0x4

_LZ4 = pa.Codec("lz4_raw")
_SNAPPY = pa.Codec("snappy")
# what a native kernel raises on a corrupt stream or a size mismatch
_NATIVE_ERRORS = (OSError, ValueError, pa.ArrowException)


@lru_cache(maxsize=None)
def _zstd_codec(level: int) -> pa.Codec:
    return pa.Codec("zstd", compression_level=level)


def zstd_compress(data: bytes, level: int) -> bytes:
    return _zstd_codec(level).compress(data, asbytes=True)


def zstd_decompress(data: bytes, size: int) -> bytes:
    """Decode zstd frames into exactly ``size`` bytes; raises
    BloscFormatError on a corrupt stream or any other decoded size."""
    try:
        return _zstd_codec(1).decompress(data, size, asbytes=True)
    except _NATIVE_ERRORS as e:
        raise BloscFormatError(f"zstd stream: {e}") from e


def inflate(data: bytes, size: int, wbits: int = 15) -> bytes:
    """Inflate a zlib (``wbits`` 15) or gzip (31) stream into exactly
    ``size`` bytes, else BloscFormatError (zlib.error if truncated). It
    never inflates past ``size + 1`` bytes, so a small hostile stream
    cannot make it allocate without bound."""
    d = zlib.decompressobj(wbits)
    got = d.decompress(data, size + 1)
    if not d.eof and len(got) <= size:
        raise zlib.error("incomplete or truncated stream")
    if len(got) != size:
        raise BloscFormatError(f"stream does not inflate to exactly {size} bytes")
    return got


def _snappy_length(raw: bytes) -> int:
    """The uncompressed length a snappy stream declares (varint32 preamble)."""
    n = shift = 0
    for i in range(min(len(raw), 5)):
        n |= (raw[i] & 0x7F) << shift
        if raw[i] < 0x80:
            return n
        shift += 7
    raise BloscFormatError("snappy stream: bad length preamble")


def _decode_stream(codec: int, raw: bytes, want: int) -> bytes:
    """One inner stream → exactly ``want`` bytes, else BloscFormatError."""
    if len(raw) == want:
        return bytes(raw)  # csize == uncompressed size → stored raw
    if codec == _ZLIB_ID:
        return inflate(raw, want)
    if codec == _BLOSCLZ_ID:
        try:
            got = _blosclz.decompress_block(raw, want)
        except _blosclz.BloscLZFormatError as e:
            raise BloscFormatError(f"blosclz stream: {e}") from e
    elif codec == _ZSTD_ID:
        return zstd_decompress(raw, want)
    elif codec == _SNAPPY_ID:
        declared = _snappy_length(raw)
        if declared != want:
            raise BloscFormatError(
                f"snappy stream declares {declared} bytes, expected {want}")
        try:  # snappy itself checks the stream against its preamble
            return _SNAPPY.decompress(raw, want, asbytes=True)
        except _NATIVE_ERRORS as e:
            raise BloscFormatError(f"snappy stream: {e}") from e
    else:
        try:
            got = _LZ4.decompress(raw, want, asbytes=True)
        except _NATIVE_ERRORS as e:
            raise BloscFormatError(f"lz4 stream: {e}") from e
        # lz4_raw pads a short stream out to ``want``: one that truly
        # fills ``want`` bytes must overflow a buffer one byte smaller
        try:
            _LZ4.decompress(raw, want - 1)
        except _NATIVE_ERRORS:
            return got
        raise BloscFormatError(f"lz4 stream decodes short of {want} bytes")
    if len(got) != want:
        raise BloscFormatError(
            f"stream decoded to {len(got)} bytes, expected {want}")
    return got


def _encode_stream(codec: int, sub: bytes, clevel: int) -> bytes:
    if codec == _ZLIB_ID:
        return zlib.compress(sub, clevel)
    if codec == _BLOSCLZ_ID:
        return _blosclz.compress_block(sub)
    if codec == _SNAPPY_ID:
        return _SNAPPY.compress(sub, asbytes=True)
    if codec == _ZSTD_ID:
        # c-blosc's zstd_wrap_compress level map
        return zstd_compress(sub, clevel * 2 - 1 if clevel < 9 else 22)
    return _LZ4.compress(sub, asbytes=True)


# encoder default block size: multiples of typesize*8 keep every full block
# shuffle-clean; 256 KiB matches c-blosc's L2-sized defaults
_DEFAULT_BLOCK = 1 << 18


# The byte (un)shuffles copy one lane per numpy call: a strided lane copy
# runs about 7x faster than serializing the transposed byte matrix.


def _byte_shuffle(b: bytes, typesize: int) -> bytes:
    n = len(b) - len(b) % typesize
    if typesize <= 1 or n == 0:
        return b
    elems = np.frombuffer(b, "u1", count=n).reshape(-1, typesize)
    planes = np.empty((typesize, n // typesize), "u1")
    for s in range(typesize):
        planes[s] = elems[:, s]
    return planes.tobytes() + b[n:]


def _byte_unshuffle(b: bytes, typesize: int) -> bytes:
    n = len(b) - len(b) % typesize
    if typesize <= 1 or n == 0:
        return b
    planes = np.frombuffer(b, "u1", count=n).reshape(typesize, -1)
    elems = np.empty((n // typesize, typesize), "u1")
    for s in range(typesize):
        elems[:, s] = planes[s]
    return elems.tobytes() + b[n:]


def _bit_shuffle(b: bytes, typesize: int) -> bytes:
    group = typesize * 8
    n = len(b) - len(b) % group
    if n == 0:
        return b
    elems = np.frombuffer(b, "u1", count=n).reshape(-1, typesize)
    bits = np.unpackbits(elems, axis=1, bitorder="little")  # (nelem, ts*8)
    planes = np.packbits(bits.T, axis=1, bitorder="little")  # (ts*8, nelem/8)
    return planes.tobytes() + b[n:]


def _bit_unshuffle(b: bytes, typesize: int) -> bytes:
    group = typesize * 8
    n = len(b) - len(b) % group
    if n == 0:
        return b
    nelem = n // typesize
    planes = np.frombuffer(b, "u1", count=n).reshape(typesize * 8, nelem // 8)
    bits = np.unpackbits(planes, axis=1, bitorder="little")  # (ts*8, nelem)
    elems = np.packbits(bits.T, axis=1, bitorder="little")  # (nelem, ts)
    return elems.tobytes() + b[n:]


def _apply_shuffle(block: bytes, flags: int, typesize: int) -> bytes:
    if flags & _FLAG_SHUFFLE:
        return _byte_shuffle(block, typesize)
    if flags & _FLAG_BITSHUFFLE:
        return _bit_shuffle(block, typesize)
    return block


def _undo_shuffle(block: bytes, flags: int, typesize: int) -> bytes:
    if flags & _FLAG_SHUFFLE:
        return _byte_unshuffle(block, typesize)
    if flags & _FLAG_BITSHUFFLE:
        return _bit_unshuffle(block, typesize)
    return block


def decompress(frame: bytes) -> bytes:
    """Decode one blosc1 frame: all five cnames
    (zlib/lz4/blosclz/snappy/zstd, any shuffle) plus memcpy'd frames —
    every blosc configuration the reference accepts."""
    if len(frame) < 16:
        raise BloscFormatError(f"blosc frame too short ({len(frame)} bytes)")
    version, _versionlz, flags, typesize = frame[0], frame[1], frame[2], frame[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", frame, 4)
    if version > BLOSC_VERSION_FORMAT:
        raise BloscFormatError(f"unsupported blosc format version {version}")
    if nbytes < 0 or cbytes < 16 or cbytes > len(frame):
        raise BloscFormatError("corrupt blosc header (nbytes/cbytes out of range)")
    if typesize == 0:
        typesize = 256  # u8 wrap: c-blosc stores 256 as 0
    if nbytes == 0:
        return b""
    if flags & _FLAG_MEMCPY:
        # incompressible fallback: raw ORIGINAL buffer follows the header
        if len(frame) < 16 + nbytes:
            raise BloscFormatError("memcpy frame shorter than nbytes")
        return bytes(frame[16 : 16 + nbytes])
    codec = (flags >> 5) & 0x7
    if codec not in _CODEC_NAMES:
        raise BloscFormatError(
            f"unknown blosc codec id in frame flags: "
            f"{_CODEC_NAMES.get(codec, codec)!r}"
        )
    if blocksize <= 0:
        raise BloscFormatError("corrupt blosc header (blocksize <= 0)")
    nblocks = math.ceil(nbytes / blocksize)
    if len(frame) < 16 + 4 * nblocks:
        raise BloscFormatError("blosc frame truncated in block index")
    bstarts = struct.unpack_from(f"<{nblocks}i", frame, 16)
    # each block's region ends where the next one (by offset) starts; the
    # last runs to cbytes — this extent decides split vs single-stream
    # layout without trusting any encoder predicate (see module docstring)
    ordered = sorted(bstarts)
    region_end = {off: (ordered[k + 1] if k + 1 < nblocks else cbytes)
                  for k, off in enumerate(ordered)}

    out = bytearray()
    for i in range(nblocks):
        bsize = min(blocksize, nbytes - i * blocksize)
        off = bstarts[i]
        if off < 16 or off + 4 > len(frame):
            raise BloscFormatError(f"block {i} offset {off} out of range")
        end = min(region_end[off], len(frame))
        (csize0,) = struct.unpack_from("<i", frame, off)
        if csize0 < 0 or off + 4 + csize0 > len(frame):
            raise BloscFormatError(f"block {i} stream size {csize0} out of range")
        if typesize == 1 or off + 4 + csize0 == end or bsize % typesize:
            # single stream fills the region exactly (split regions cannot:
            # they hold >= 2 sub-streams of >= 4 bytes each)
            stream = frame[off + 4 : off + 4 + csize0]
            out += _undo_shuffle(_decode_stream(codec, stream, bsize),
                                 flags, typesize)
            continue
        # split layout: typesize sub-streams of bsize/typesize bytes each
        neblock = bsize // typesize
        block = bytearray()
        pos = off
        for s in range(typesize):
            if pos + 4 > end:
                raise BloscFormatError(f"block {i} truncated in sub-stream {s}")
            (cs,) = struct.unpack_from("<i", frame, pos)
            pos += 4
            if cs < 0 or pos + cs > end:
                raise BloscFormatError(
                    f"block {i} sub-stream {s} size {cs} out of range")
            block += _decode_stream(codec, frame[pos : pos + cs], neblock)
            pos += cs
        out += _undo_shuffle(bytes(block), flags, typesize)
    return bytes(out)


def compress(
    data: bytes,
    typesize: int = 8,
    clevel: int = 5,
    shuffle: int = 1,
    blocksize: int = 0,
    cname: str = "zlib",
) -> bytes:
    """Encode one blosc1 frame. ``shuffle``: 0 none, 1 byte-shuffle,
    2 bit-shuffle (c-blosc's constants). ``cname``: zlib, lz4, blosclz,
    snappy or zstd; lz4/blosclz full blocks split per c-blosc's predicate
    (module docstring)."""
    codec_id = _CODEC_IDS.get(cname)
    if codec_id is None:
        raise BloscFormatError(f"unknown blosc cname {cname!r}")
    nbytes = len(data)
    if not 1 <= typesize <= 255:
        typesize = 1  # c-blosc treats out-of-range typesize as 1 (no shuffle)
    flags = codec_id << 5
    if typesize > 1 and nbytes >= typesize:
        if shuffle == 1:
            flags |= _FLAG_SHUFFLE
        elif shuffle == 2:
            flags |= _FLAG_BITSHUFFLE

    def _memcpy_frame() -> bytes:
        head = struct.pack(
            "<BBBB iii",
            BLOSC_VERSION_FORMAT, 1, (codec_id << 5) | _FLAG_MEMCPY,
            typesize & 0xFF, nbytes, max(nbytes, 1), nbytes + 16,
        )
        return head + data

    if nbytes == 0:
        return _memcpy_frame()
    if blocksize <= 0:
        blocksize = min(_DEFAULT_BLOCK, nbytes)
    # full blocks stay shuffle-clean: round to a typesize*8 multiple
    group = typesize * 8
    if blocksize % group and blocksize < nbytes:
        blocksize = max(group, blocksize - blocksize % group)
    blocksize = min(blocksize, nbytes)
    nblocks = math.ceil(nbytes / blocksize)

    def _one(sub: bytes) -> bytes:
        """One [i32 csize | stream] unit with c-blosc's per-stream
        raw-storage fallback (csize == uncompressed size)."""
        comp = _encode_stream(codec_id, sub, clevel)
        if len(comp) >= len(sub):
            return struct.pack("<i", len(sub)) + sub
        return struct.pack("<i", len(comp)) + comp

    streams: list[bytes] = []
    for i in range(nblocks):
        lo = i * blocksize
        block = data[lo : lo + blocksize]
        shuffled = _apply_shuffle(block, flags, typesize)
        # c-blosc split predicate (blosc.c split_block + !leftoverblock):
        # blosclz/lz4 FULL blocks split into typesize sub-streams
        split = (
            codec_id in (_LZ4_ID, _BLOSCLZ_ID) and 1 < typesize <= _MAX_SPLITS
            and len(block) == blocksize and len(block) % typesize == 0
            and len(block) // typesize >= _MIN_BUFFERSIZE
        )
        if split:
            ne = len(shuffled) // typesize
            streams.append(b"".join(
                _one(shuffled[s * ne : (s + 1) * ne]) for s in range(typesize)))
        else:
            streams.append(_one(shuffled))
    total = 16 + 4 * nblocks + sum(len(s) for s in streams)
    if total >= nbytes + 16:
        return _memcpy_frame()  # compression lost: c-blosc's memcpy fallback
    head = struct.pack(
        "<BBBB iii",
        BLOSC_VERSION_FORMAT, 1, flags, typesize & 0xFF, nbytes, blocksize, total,
    )
    bstarts = []
    off = 16 + 4 * nblocks
    for s in streams:
        bstarts.append(off)
        off += len(s)
    return head + struct.pack(f"<{nblocks}i", *bstarts) + b"".join(streams)
