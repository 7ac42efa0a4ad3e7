"""Pure-Python Snappy raw-block codec (decode + a greedy encoder).

Blosc cname id 2 wraps google/snappy's RAW block format per sub-stream —
public and simple (snappy format_description.txt):

  preamble:  varint32 uncompressed length (7 bits per byte, LSB-first,
             high bit = continuation)
  elements:  tag byte, low 2 bits = type
    00 LITERAL   length-1 in tag bits 2-7 for lengths 1..60; tag values
                 60..63 mean 1..4 extra little-endian length bytes follow
                 (holding length-1)
    01 COPY-1    length = 4 + ((tag >> 2) & 0x7)  (4..11),
                 offset = ((tag >> 5) << 8) | next byte  (11 bits, 1..2047)
    10 COPY-2    length = (tag >> 2) + 1 (1..64), offset = u16 LE
    11 COPY-4    length = (tag >> 2) + 1 (1..64), offset = u32 LE
  copies may overlap their output (byte-serial RLE semantics, like LZ4).

TEST ORACLE: the engine runs snappy on pyarrow's native kernel
(sources/blosc1.py); this module checks it differentially
(tests/test_native_codecs.py). DECODE enforces the declared length early
(bomb bound, same posture as lz4.py/blosclz.py). The ENCODER is a greedy
single-slot-hash matcher over 4-byte prefixes (the lz4.py pattern)
emitting literal runs + COPY-2 elements — any spec-conforming decoder
accepts its streams. Handcrafted copy-element vectors pin the decode
format (tests/test_snappy.py).
"""

from __future__ import annotations


class SnappyFormatError(RuntimeError):
    pass


def _read_varint(src: bytes, i: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        if i >= len(src):
            raise SnappyFormatError("truncated varint preamble")
        b = src[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7
        if shift > 31:
            raise SnappyFormatError("varint preamble longer than 32 bits")


def decompress_block(src: bytes, expected_size: int | None = None) -> bytes:
    """Decode one raw snappy block. The preamble's declared length is
    enforced exactly and EARLY (in-loop bound — a corrupt stream aborts at
    the declared size, never after materializing a bomb); when
    ``expected_size`` is given it must also match the preamble."""
    n = len(src)
    want, i = _read_varint(src, 0)
    if expected_size is not None and want != expected_size:
        raise SnappyFormatError(
            f"preamble declares {want} bytes, container expects {expected_size}")
    dst = bytearray()
    while i < n:
        tag = src[i]
        i += 1
        typ = tag & 3
        if typ == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                nb = ln - 59  # 1..4 extra length bytes
                if i + nb > n:
                    raise SnappyFormatError("truncated literal length")
                ln = int.from_bytes(src[i : i + nb], "little")
                i += nb
            ln += 1
            if i + ln > n:
                raise SnappyFormatError("literal run past end of input")
            if len(dst) + ln > want:
                raise SnappyFormatError(
                    f"stream exceeds declared size {want} during literal run")
            dst += src[i : i + ln]
            i += ln
            continue
        if typ == 1:  # copy, 1-byte offset
            if i >= n:
                raise SnappyFormatError("truncated copy-1 offset")
            ln = 4 + ((tag >> 2) & 0x7)
            off = ((tag >> 5) << 8) | src[i]
            i += 1
        elif typ == 2:  # copy, 2-byte offset
            if i + 2 > n:
                raise SnappyFormatError("truncated copy-2 offset")
            ln = (tag >> 2) + 1
            off = src[i] | (src[i + 1] << 8)
            i += 2
        else:  # copy, 4-byte offset
            if i + 4 > n:
                raise SnappyFormatError("truncated copy-4 offset")
            ln = (tag >> 2) + 1
            off = int.from_bytes(src[i : i + 4], "little")
            i += 4
        if off == 0 or off > len(dst):
            raise SnappyFormatError(f"copy offset {off} at output {len(dst)}")
        if len(dst) + ln > want:
            raise SnappyFormatError(
                f"stream exceeds declared size {want} during copy")
        start = len(dst) - off
        if off >= ln:
            dst += dst[start : start + ln]
        else:  # overlapping copy: byte-serial semantics (RLE-style)
            for k in range(ln):
                dst.append(dst[start + k])
    if len(dst) != want:
        raise SnappyFormatError(
            f"stream decoded to {len(dst)} bytes, preamble declared {want}")
    return bytes(dst)


def _write_varint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _emit_literal(out: bytearray, data: bytes, start: int, end: int) -> None:
    i = start
    while i < end:
        run = min(end - i, 65536)  # length-1 fits 2 extra bytes
        if run <= 60:
            out.append((run - 1) << 2)
        else:
            out.append(61 << 2)  # 2 extra little-endian length bytes
            out += (run - 1).to_bytes(2, "little")
        out += data[i : i + run]
        i += run


def compress_block(data: bytes) -> bytes:
    """Greedy snappy encoder: single-slot hash over 4-byte prefixes (the
    lz4.py matcher pattern), literals + COPY-2 elements (u16 LE offset, so
    the match window is 65535 B; matches longer than 64 B chain multiple
    copy elements, spec-legal)."""
    n = len(data)
    out = bytearray()
    _write_varint(out, n)
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 65535 and data[j : j + 4] == key:
            mlen = 4
            while i + mlen < n and data[j + mlen] == data[i + mlen]:
                mlen += 1
            _emit_literal(out, data, anchor, i)
            off = i - j
            rem = mlen
            while rem:
                ln = min(rem, 64)
                if ln < 4:  # trailing sliver: cheaper as part of the next
                    break   # literal run than as its own 3-byte copy element
                out.append(((ln - 1) << 2) | 2)  # COPY-2
                out += off.to_bytes(2, "little")
                rem -= ln
            i += mlen - rem
            anchor = i
            continue
        i += 1
    _emit_literal(out, data, anchor, n)
    return bytes(out)
