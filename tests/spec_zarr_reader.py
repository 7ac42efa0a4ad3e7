"""Independent Zarr reader written FROM THE PUBLIC SPECS, for interop tests.

This module deliberately imports NOTHING from mdio_cpp_spark — it is the
stand-in for a third-party reader (zarr-python is uninstallable in this
container, see INTEROP_PROBE.md). Everything here is derived from:

  * Zarr v2 storage spec: `.zgroup`/`.zarray`/`.zattrs` JSON documents,
    chunk keys "<i>.<j>" joined by `dimension_separator`, C/F order, raw
    little/big-endian typed buffers, per-chunk compressor JSON
    ({"id": "zlib"|"gzip", ...}), `fill_value` for absent chunks, edge
    chunks padded to full chunk shape.
  * Zarr v3 core spec: `zarr.json` per node, `chunk_grid.configuration.
    chunk_shape`, chunk keys "c/<i>/<j>" per the default chunk-key encoding,
    codec chain [{"name": "bytes"|"gzip"|"zlib", ...}], `data_type` names,
    `fill_value`.

If our writer and this reader agree on every value, our bytes follow the
spec as both implementations independently understand it.

zstd chunks and blosc-zstd streams decode through the full RFC 8878
oracle (tests/oracles/zstd.py, also engine-free): the engine writes them
with libzstd, whose frames use every table mode. The narrower
``_zstd_decode`` here pins that oracle's own encoder.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import zlib

import numpy as np

from tests.oracles import zstd as _oracle_zstd

_V3_DTYPES = {
    "bool": "|b1",
    "int8": "|i1", "int16": "<i2", "int32": "<i4", "int64": "<i8",
    "uint8": "|u1", "uint16": "<u2", "uint32": "<u4", "uint64": "<u8",
    "float16": "<f2", "float32": "<f4", "float64": "<f8",
    "complex64": "<c8", "complex128": "<c16",
}


def _np_dtype_v2(dtype_json) -> np.dtype:
    if isinstance(dtype_json, list):  # structured: [["name", "<i4"], ...]
        return np.dtype([(str(n), str(f)) for n, f in dtype_json])
    return np.dtype(str(dtype_json))


def _fill_np(fill_json, dt: np.dtype):
    if fill_json is None:
        return None
    if dt.fields is not None:  # v2 struct fill: base64 of raw bytes
        raw = base64.b64decode(fill_json)
        return np.frombuffer(raw, dtype=dt)[0]
    if isinstance(fill_json, str) and fill_json in ("NaN", "Infinity", "-Infinity"):
        return dt.type(float(fill_json.replace("Infinity", "inf")))
    if dt.kind == "c" and isinstance(fill_json, (list, tuple)):
        re, im = (float(x) if not isinstance(x, str) else float(x.replace("Infinity", "inf"))
                  for x in fill_json)
        return dt.type(complex(re, im))
    return dt.type(fill_json)


def _lz4_block_decode(src: bytes) -> bytes:
    """Independent LZ4 block decode, straight from the public block format
    (lz4_Block_format.md): ``token | literals [offset u16 LE, matchlen]``
    sequences, 15-valued nibbles extended by 255-continuation bytes,
    4-byte minimum match, matches copy byte-serially (overlap = RLE)."""
    o, i, n = bytearray(), 0, len(src)
    while i < n:
        t = src[i]; i += 1
        ln = t >> 4
        if ln == 15:
            while src[i] == 255:
                ln += 255; i += 1
            ln += src[i]; i += 1
        o += src[i : i + ln]; i += ln
        if i >= n:
            break
        off = src[i] | (src[i + 1] << 8); i += 2
        ml = (t & 15) + 4
        if t & 15 == 15:
            while src[i] == 255:
                ml += 255; i += 1
            ml += src[i]; i += 1
        p = len(o) - off
        for k in range(ml):
            o.append(o[p + k])
    return bytes(o)


def _blosclz_block_decode(src: bytes) -> bytes:
    """Independent BloscLZ block decode, straight from the public token
    format (c-blosc blosclz.c, FastLZ level-2 family): first byte masked
    to a literal run; token<32 → run of token+1 literals; else match with
    length code token>>5 (7 → 255-continued extensions), distance
    ofs+code+1 from ((token&31)<<8, next byte), far escape code==255 &&
    ofs==31<<8 → two explicit big-endian bytes + 8192 base."""
    if not src:
        return b""
    o = bytearray()
    ctrl = src[0] & 31
    i = 1
    n = len(src)
    while True:
        if ctrl >= 32:
            ln = (ctrl >> 5) - 1
            ofs = (ctrl & 31) << 8
            if ln == 6:
                while True:
                    code = src[i]; i += 1
                    ln += code
                    if code != 255:
                        break
            code = src[i]; i += 1
            if code == 255 and ofs == (31 << 8):
                dist = ((src[i] << 8) | src[i + 1]) + 8191 + 1
                i += 2
            else:
                dist = ofs + code + 1
            p = len(o) - dist
            for k in range(ln + 3):
                o.append(o[p + k])
        else:
            o += src[i : i + ctrl + 1]
            i += ctrl + 1
        if i >= n:
            break
        ctrl = src[i]; i += 1
    return bytes(o)



def _snappy_block_decode(src: bytes) -> bytes:
    """Independent Snappy raw-block decode, straight from the public spec
    (google/snappy format_description.txt): varint32 uncompressed-length
    preamble, then tagged elements — 00 literal (6-bit length-1, values
    60..63 escape to 1..4 extra LE length bytes), 01 copy with 11-bit
    offset and 3-bit length-4, 10 copy with u16 LE offset, 11 copy with
    u32 LE offset; copies may overlap (byte-serial)."""
    want = 0
    i = shift = 0
    while True:
        b = src[i]; i += 1
        want |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    o = bytearray()
    n = len(src)
    while i < n:
        tag = src[i]; i += 1
        t = tag & 3
        if t == 0:
            ln = tag >> 2
            if ln >= 60:
                nb = ln - 59
                ln = int.from_bytes(src[i : i + nb], "little"); i += nb
            o += src[i : i + ln + 1]; i += ln + 1
            continue
        if t == 1:
            ln = 4 + ((tag >> 2) & 0x7)
            off = ((tag >> 5) << 8) | src[i]; i += 1
        elif t == 2:
            ln = (tag >> 2) + 1
            off = src[i] | (src[i + 1] << 8); i += 2
        else:
            ln = (tag >> 2) + 1
            off = int.from_bytes(src[i : i + 4], "little"); i += 4
        p = len(o) - off
        for k in range(ln):
            o.append(o[p + k])
    assert len(o) == want, "snappy stream length != preamble"
    return bytes(o)


def _blosc_decode(frame: bytes) -> bytes:
    """Independent blosc1 frame decode (zlib + lz4 cnames), straight from
    the public c-blosc container spec (README_HEADER.rst): 16-byte LE header
    ``version u8|versionlz u8|flags u8|typesize u8|nbytes i32|blocksize i32|
    cbytes i32``; flags bit0 byte-shuffle, bit1 memcpy, bit2 bit-shuffle,
    bits5-7 codec (0=blosclz, 1=lz4, 2=snappy, 3=zlib); then i32
    bstarts[nblocks] and per block
    ``i32 csize|stream`` (csize == stream's uncompressed size → stored raw).
    blosclz/lz4 FULL blocks may be SPLIT into ``typesize`` sub-streams
    (c-blosc blosc.c split_block) — detected here from the block's region
    extent (single-stream regions are exactly ``4+csize`` bytes long).
    Shuffles are per-block byte/bit transposes, element-incomplete tails
    unshuffled."""
    import struct

    flags, typesize = frame[2], frame[3] or 256
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", frame, 4)
    if nbytes == 0:
        return b""
    if flags & 0x2:  # memcpy'd: raw original payload
        return frame[16 : 16 + nbytes]
    codec = (flags >> 5) & 0x7
    if codec not in (0, 1, 2, 3, 4):
        raise ValueError(
            "spec reader: blosc frame is not cname=blosclz/lz4/snappy/zlib/zstd")
    nblocks = -(-nbytes // blocksize)
    bstarts = struct.unpack_from(f"<{nblocks}i", frame, 16)
    srt = sorted(bstarts)
    ends = {off: (srt[k + 1] if k + 1 < nblocks else cbytes)
            for k, off in enumerate(srt)}

    def _one(raw: bytes, want: int) -> bytes:
        if len(raw) == want:
            return bytes(raw)
        if codec == 3:
            return zlib.decompress(raw)
        if codec == 0:
            return _blosclz_block_decode(raw)
        if codec == 2:
            return _snappy_block_decode(raw)
        if codec == 4:
            return _oracle_zstd.decompress(raw)
        return _lz4_block_decode(raw)

    out = bytearray()
    for i in range(nblocks):
        bsize = min(blocksize, nbytes - i * blocksize)
        (csize,) = struct.unpack_from("<i", frame, bstarts[i])
        if typesize == 1 or bstarts[i] + 4 + csize == ends[bstarts[i]] or bsize % typesize:
            raw = frame[bstarts[i] + 4 : bstarts[i] + 4 + csize]
            block = _one(raw, bsize)
        else:  # split: typesize sub-streams of bsize/typesize each
            ne, pos, parts = bsize // typesize, bstarts[i], bytearray()
            for _s in range(typesize):
                (cs,) = struct.unpack_from("<i", frame, pos)
                parts += _one(frame[pos + 4 : pos + 4 + cs], ne)
                pos += 4 + cs
            block = bytes(parts)
        if flags & 0x1 and typesize > 1:  # byte unshuffle
            n = len(block) - len(block) % typesize
            if n:
                m = np.frombuffer(block, "u1", count=n).reshape(typesize, -1)
                block = m.T.tobytes() + block[n:]
        elif flags & 0x4 and typesize > 1:  # bit unshuffle (LE bit order)
            n = len(block) - len(block) % (typesize * 8)
            if n:
                nelem = n // typesize
                planes = np.frombuffer(block, "u1", count=n).reshape(typesize * 8, nelem // 8)
                bits = np.unpackbits(planes, axis=1, bitorder="little")
                block = np.packbits(bits.T, axis=1, bitorder="little").tobytes() + block[n:]
        out += block
    return bytes(out)



class _ZBackBits:
    """RFC 8878 backward bitstream: LSB-packed bytes consumed from the
    end; the last byte's top set bit is the padding sentinel."""

    def __init__(self, data: bytes):
        assert data and data[-1] != 0, "spec reader: missing zstd sentinel"
        self.data = data
        self.pos = (len(data) - 1) * 8 + data[-1].bit_length() - 1

    def read(self, n: int, zero_fill: bool = False) -> int:
        if n == 0:
            return 0
        have = min(n, self.pos) if zero_fill else n
        assert have <= self.pos, "spec reader: zstd bitstream overread"
        self.pos -= have
        lo, hi = self.pos >> 3, (self.pos + have - 1) >> 3
        chunk = int.from_bytes(self.data[lo : hi + 1], "little")
        v = (chunk >> (self.pos & 7)) & ((1 << have) - 1)
        return v << (n - have)


def _zstd_fse_table(probs, log):
    """Canonical FSE decode table from normalized counts — the spec's
    spread + state-numbering rules, written against RFC 8878 §4.1."""
    size = 1 << log
    cells = [0] * size
    high = size - 1
    for s, p in enumerate(probs):
        if p == -1:
            cells[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for s, p in enumerate(probs):
        for _ in range(max(p, 0)):
            cells[pos] = s
            pos = (pos + step) & (size - 1)
            while pos > high:
                pos = (pos + step) & (size - 1)
    assert pos == 0, "spec reader: FSE spread does not close"
    nxt = [1 if p == -1 else p for p in probs]
    sym, nb, base = [0] * size, [0] * size, [0] * size
    for i in range(size):
        s = cells[i]
        x = nxt[s]
        nxt[s] += 1
        bits = log - (x.bit_length() - 1)
        sym[i], nb[i], base[i] = s, bits, (x << bits) - size
    return sym, nb, base


# RFC 8878 predefined sequence distributions + LL/ML code tables
# (public constants, transcribed independently of the engine's copies)
_Z_LL_DEF = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2,
             2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1]
_Z_ML_DEF = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
             1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
             1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1]
_Z_OF_DEF = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
             1, 1, 1, 1, -1, -1, -1, -1, -1]
_Z_LL_BASE = list(range(16)) + [16, 18, 20, 22, 24, 28, 32, 40, 48, 64,
                                128, 256, 512, 1024, 2048, 4096, 8192,
                                16384, 32768, 65536]
_Z_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11,
                         12, 13, 14, 15, 16]
_Z_ML_BASE = list(range(3, 35)) + [35, 37, 39, 41, 43, 47, 51, 59, 67, 83,
                                   99, 131, 259, 515, 1027, 2051, 4099,
                                   8195, 16387, 32771, 65539]
_Z_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11,
                         12, 13, 14, 15, 16]
_Z_PREDEF = None


def _zstd_huf_codes(weights):
    """Canonical Huffman decode map {(nbits, code): symbol} from explicit
    weights + the implied last weight (power-of-two completion)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    target = 1 << total.bit_length()
    implied = target - total
    assert implied & (implied - 1) == 0, "spec reader: bad Huffman weights"
    weights = list(weights) + [implied.bit_length()]
    max_bits = target.bit_length() - 1
    table = {}
    pos = 0
    for w in range(1, max_bits + 1):
        for s, ws in enumerate(weights):
            if ws == w:
                nb = max_bits + 1 - w
                table[(nb, pos >> (max_bits - nb))] = s
                pos += 1 << (w - 1)
    assert pos == 1 << max_bits, "spec reader: Huffman weights incomplete"
    return table, max_bits


def _zstd_huf_stream(table, max_bits, src: bytes, out_len: int) -> bytes:
    bits = _ZBackBits(src)
    out = bytearray()
    while len(out) < out_len:
        code, nb = 0, 0
        while (nb, code) not in table:
            code = (code << 1) | bits.read(1, zero_fill=True)
            nb += 1
            assert nb <= max_bits, "spec reader: bad Huffman code"
        out.append(table[(nb, code)])
    return bytes(out)


def _zstd_literals(block: bytes):
    """Literals section → (literals, bytes consumed). Raw, RLE, and
    Huffman-compressed with DIRECT weights (1- and 4-stream) — the forms
    a fresh-per-block encoder emits; treeless/FSE-weights are out of the
    spec reader's scope and rejected loudly."""
    import struct as _st

    b0 = block[0]
    lb_type, size_fmt = b0 & 3, (b0 >> 2) & 3
    if lb_type in (0, 1):
        if size_fmt in (0, 2):
            regen, hlen = b0 >> 3, 1
        elif size_fmt == 1:
            regen, hlen = (b0 >> 4) + (block[1] << 4), 2
        else:
            regen, hlen = (b0 >> 4) + (block[1] << 4) + (block[2] << 12), 3
        if lb_type == 0:
            return bytes(block[hlen : hlen + regen]), hlen + regen
        return bytes([block[hlen]]) * regen, hlen + 1
    assert lb_type == 2, "spec reader: treeless zstd literals unsupported"
    if size_fmt == 0:
        four, hlen = False, 3
        regen = (b0 >> 4) + ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) + (block[2] << 2)
    elif size_fmt == 1:
        four, hlen = True, 3
        regen = (b0 >> 4) + ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) + (block[2] << 2)
    elif size_fmt == 2:
        four, hlen = True, 4
        regen = (b0 >> 4) + (block[1] << 4) + ((block[2] & 0x3) << 12)
        comp = (block[2] >> 2) + (block[3] << 6)
    else:
        four, hlen = True, 5
        regen = (b0 >> 4) + (block[1] << 4) + ((block[2] & 0x3F) << 12)
        comp = (block[2] >> 6) + (block[3] << 2) + (block[4] << 10)
    body = block[hlen : hlen + comp]
    hb = body[0]
    assert hb >= 128, "spec reader: FSE-compressed Huffman weights unsupported"
    nw = hb - 127
    weights = []
    for i in range(nw):
        b = body[1 + (i >> 1)]
        weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
    table, max_bits = _zstd_huf_codes(weights)
    payload = body[1 + (nw + 1) // 2 :]
    if not four:
        lits = _zstd_huf_stream(table, max_bits, payload, regen)
    else:
        s1, s2, s3 = _st.unpack_from("<HHH", payload, 0)
        rest = payload[6:]
        part = (regen + 3) // 4
        chunks = [rest[:s1], rest[s1 : s1 + s2], rest[s1 + s2 : s1 + s2 + s3],
                  rest[s1 + s2 + s3 :]]
        sizes = [part, part, part, regen - 3 * part]
        lits = b"".join(_zstd_huf_stream(table, max_bits, c, n)
                        for c, n in zip(chunks, sizes))
    return lits, hlen + comp


def _zstd_block(block: bytes, history: bytearray) -> bytes:
    """One compressed block: literals + sequences over the PREDEFINED FSE
    tables (modes byte 0). Described/RLE/repeat sequence tables are out
    of the spec reader's scope."""
    global _Z_PREDEF
    lits, pos = _zstd_literals(block)
    b0 = block[pos]
    if b0 == 0:
        return lits
    if b0 < 128:
        nseq, pos = b0, pos + 1
    elif b0 < 255:
        nseq, pos = ((b0 - 128) << 8) + block[pos + 1], pos + 2
    else:
        nseq, pos = block[pos + 1] + (block[pos + 2] << 8) + 0x7F00, pos + 3
    assert block[pos] == 0, "spec reader: non-predefined zstd sequence tables"
    pos += 1
    if _Z_PREDEF is None:
        _Z_PREDEF = {
            "ll": _zstd_fse_table(_Z_LL_DEF, 6),
            "of": _zstd_fse_table(_Z_OF_DEF, 5),
            "ml": _zstd_fse_table(_Z_ML_DEF, 6),
        }
    (ll_s, ll_n, ll_b) = _Z_PREDEF["ll"]
    (of_s, of_n, of_b) = _Z_PREDEF["of"]
    (ml_s, ml_n, ml_b) = _Z_PREDEF["ml"]
    bits = _ZBackBits(block[pos:])
    st_ll = bits.read(6)
    st_of = bits.read(5)
    st_ml = bits.read(6)
    out = bytearray()
    lit_pos = 0
    reps = [1, 4, 8]
    hlen = len(history)
    for i in range(nseq):
        of_code = of_s[st_of]
        offset_value = (1 << of_code) + bits.read(of_code)
        mc = ml_s[st_ml]
        ml = _Z_ML_BASE[mc] + bits.read(_Z_ML_BITS[mc])
        lc = ll_s[st_ll]
        ll = _Z_LL_BASE[lc] + bits.read(_Z_LL_BITS[lc])
        if offset_value > 3:
            offset = offset_value - 3
            reps[2], reps[1], reps[0] = reps[1], reps[0], offset
        else:
            if ll == 0:
                offset_value += 1
            if offset_value == 1:
                offset = reps[0]
            elif offset_value == 2:
                offset = reps[1]
                reps[1], reps[0] = reps[0], offset
            elif offset_value == 3:
                offset = reps[2]
                reps[2], reps[1], reps[0] = reps[1], reps[0], offset
            else:
                offset = reps[0] - 1
                reps[2], reps[1], reps[0] = reps[1], reps[0], offset
        out += lits[lit_pos : lit_pos + ll]
        lit_pos += ll
        for k in range(ml):
            p = len(out) - offset
            out.append(out[p] if p >= 0 else history[hlen + p])
        if i + 1 < nseq:
            st_ll = ll_b[st_ll] + bits.read(ll_n[st_ll])
            st_ml = ml_b[st_ml] + bits.read(ml_n[st_ml])
            st_of = of_b[st_of] + bits.read(of_n[st_of])
    assert bits.pos == 0, "spec reader: zstd sequence bits left over"
    out += lits[lit_pos:]
    return bytes(out)


def _zstd_decode(src: bytes) -> bytes:
    """Independent decode of zstd frames (RFC 8878): raw + RLE blocks
    (the engine's store mode) plus compressed blocks in the shape a
    fresh-per-block encoder emits — raw/RLE/Huffman-direct literals and
    predefined-FSE sequences. Verifies the xxh64-low-32 checksum is
    present structurally (value checking stays the engine's job)."""
    import struct as _st

    out = bytearray()
    i = 0
    while i < len(src):
        (magic,) = _st.unpack_from("<I", src, i); i += 4
        if 0x184D2A50 <= magic <= 0x184D2A5F:  # skippable frame
            (n,) = _st.unpack_from("<I", src, i); i += 4 + n
            continue
        assert magic == 0xFD2FB528, "spec reader: bad zstd magic"
        fhd = src[i]; i += 1
        single = bool(fhd & 0x20)
        if not single:
            i += 1  # window descriptor
        i += (0, 1, 2, 4)[fhd & 3]  # dictionary id
        fcs_flag = fhd >> 6
        flen = (1 if single else 0, 2, 4, 8)[fcs_flag]
        i += flen  # content size (not needed to walk blocks)
        while True:
            bh = src[i] | (src[i + 1] << 8) | (src[i + 2] << 16); i += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 0:
                out += src[i : i + bsize]; i += bsize
            elif btype == 1:
                out += bytes([src[i]]) * bsize; i += 1
            elif btype == 2:
                out += _zstd_block(src[i : i + bsize], out); i += bsize
            else:
                raise ValueError("spec reader: reserved zstd block type")
            if last:
                break
        if fhd & 0x4:
            i += 4  # content checksum
    return bytes(out)


def _decompress(raw: bytes, compressor, v3_codecs) -> bytes:
    if compressor is not None:  # v2
        cid = compressor.get("id")
        if cid == "zlib":
            return zlib.decompress(raw)
        if cid == "gzip":
            return gzip.decompress(raw)
        if cid == "blosc":
            return _blosc_decode(raw)
        raise ValueError(f"spec reader: unsupported v2 compressor {cid}")
    for codec in reversed(v3_codecs or []):
        name = codec.get("name")
        if name in ("bytes", "transpose"):
            continue  # transpose handled at the array level (_unpermute)
        elif name == "gzip":
            raw = gzip.decompress(raw)
        elif name == "zlib":
            raw = zlib.decompress(raw)
        elif name == "blosc":
            raw = _blosc_decode(raw)
        elif name == "zstd":
            raw = _oracle_zstd.decompress(raw)
        else:
            raise ValueError(f"spec reader: unsupported v3 codec {name}")
    return raw


def read_zarr_array(root: str, name: str) -> np.ndarray:
    """Read one array of a Zarr v2 or v3 group from raw files into numpy."""
    if os.path.exists(os.path.join(root, "zarr.json")):
        return _read_v3(root, name)
    return _read_v2(root, name)


def read_group_attrs(root: str) -> dict:
    if os.path.exists(os.path.join(root, "zarr.json")):
        with open(os.path.join(root, "zarr.json")) as f:
            return dict(json.load(f).get("attributes", {}))
    try:
        with open(os.path.join(root, ".zattrs")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def read_array_attrs(root: str, name: str) -> dict:
    if os.path.exists(os.path.join(root, "zarr.json")):
        with open(os.path.join(root, name, "zarr.json")) as f:
            return dict(json.load(f).get("attributes", {}))
    try:
        with open(os.path.join(root, name, ".zattrs")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _assemble(shape, chunks, dt, fill, order, chunk_bytes_fn) -> np.ndarray:
    if fill is None:
        out = np.zeros(shape, dtype=dt)
    else:
        out = np.full(shape, fill, dtype=dt)
    grid = [max(1, -(-s // c)) for s, c in zip(shape, chunks)]
    for coords in np.ndindex(*grid):
        raw = chunk_bytes_fn(coords)
        if raw is None:
            continue
        block = np.frombuffer(raw, dtype=dt).reshape(chunks, order=order)
        sel = tuple(
            slice(c * ch, min((c + 1) * ch, s))
            for c, ch, s in zip(coords, chunks, shape)
        )
        trim = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        out[sel] = block[trim]
    return out


def _unfilter_v2(raw: bytes, filters) -> bytes:
    """Numcodecs v2 filter-chain decode, from the numcodecs docs: walk the
    declared chain BACKWARDS; each stage views the bytes as its storage
    dtype (`astype`, default `dtype`) and emits `dtype`. Delta decodes by
    cumulative sum; FixedScaleOffset by enc/scale + offset."""
    for f in reversed(filters or []):
        if f["id"] == "shuffle":
            es = max(1, int(f.get("elementsize", 4)))
            n = len(raw) // es * es
            body = np.frombuffer(raw[:n], dtype="u1")
            raw = body.reshape(es, -1).T.tobytes(order="C") + raw[n:]
            continue
        dtype = np.dtype(f["dtype"])
        astype = np.dtype(f["astype"]) if f.get("astype") else dtype
        enc = np.frombuffer(raw, dtype=astype)
        if f["id"] == "delta":
            dec = np.cumsum(enc, dtype=dtype)
        elif f["id"] == "fixedscaleoffset":
            dec = (enc / f["scale"] + f["offset"]).astype(dtype)
        elif f["id"] == "quantize":
            dec = enc.astype(dtype)  # loss happened at encode
        else:
            raise NotImplementedError(f"v2 filter {f['id']!r}")
        raw = dec.tobytes()
    return raw


def _read_v2(root: str, name: str) -> np.ndarray:
    adir = os.path.join(root, name)
    with open(os.path.join(adir, ".zarray")) as f:
        zarray = json.load(f)
    assert zarray["zarr_format"] == 2
    dt = _np_dtype_v2(zarray["dtype"])
    shape = tuple(zarray["shape"])
    chunks = tuple(zarray["chunks"])
    order = zarray.get("order", "C")
    sep = zarray.get("dimension_separator", ".")
    fill = _fill_np(zarray.get("fill_value"), dt)
    compressor = zarray.get("compressor")
    filters = zarray.get("filters")

    def chunk_bytes(coords):
        path = os.path.join(adir, sep.join(str(c) for c in coords))
        if not os.path.exists(path):
            return None
        with open(path, "rb") as f:
            return _unfilter_v2(_decompress(f.read(), compressor, None), filters)

    return _assemble(shape, chunks, dt, fill, order, chunk_bytes)


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), table-driven from the public reflected
    polynomial 0x82F63B78 — independent of the implementation under test."""
    tbl = getattr(_crc32c, "_tbl", None)
    if tbl is None:
        tbl = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _crc32c._tbl = tbl
    crc = 0xFFFFFFFF
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _unpermute(raw: bytes, dt, shape, perm):
    """Stored-permuted chunk bytes → canonical C-order bytes."""
    if perm is None:
        return raw
    pshape = tuple(shape[p] for p in perm)
    inv = [0] * len(perm)
    for i, p in enumerate(perm):
        inv[p] = i
    arr = np.frombuffer(raw, dtype=dt).reshape(pshape).transpose(inv)
    return np.ascontiguousarray(arr).tobytes()


def _shard_block_bytes(raw, conf, shard_shape, dt, fill):
    """ZEP-2 shard container → the full shard's raw C-order bytes: parse
    the fixed-size (offset, nbytes) u64-LE index (crc32c-verified when the
    index codecs say so), decode present inner chunks, synthesize fill for
    MISSING (2^64-1, 2^64-1) entries."""
    import struct as _st

    inner = tuple(conf["chunk_shape"])
    inner_codecs = conf.get("codecs") or [{"name": "bytes"}]
    perm = None
    for codec in inner_codecs:
        if codec.get("name") == "transpose":
            perm = tuple(codec["configuration"]["order"])
    index_codecs = conf.get("index_codecs") or [
        {"name": "bytes"}, {"name": "crc32c"}]
    grid = [s // i for s, i in zip(shard_shape, inner)]
    n = 1
    for g in grid:
        n *= g
    isize = n * 16 + 4 * sum(1 for c in index_codecs if c.get("name") == "crc32c")
    assert len(raw) >= isize, "shard shorter than its index"
    idx = raw[-isize:] if conf.get("index_location", "end") == "end" else raw[:isize]
    for codec in reversed(index_codecs):
        cn = codec.get("name")
        if cn == "crc32c":
            body, want = idx[:-4], _st.unpack("<I", idx[-4:])[0]
            assert _crc32c(body) == want, "shard index crc32c mismatch"
            idx = body
        else:
            assert cn == "bytes", cn
    idx_fmt = "<QQ"
    for codec in index_codecs:  # spec: the index 'bytes' codec sets endian
        if codec.get("name") == "bytes" and (
            codec.get("configuration", {}).get("endian", "little") == "big"
        ):
            idx_fmt = ">QQ"
    pairs = list(_st.iter_unpack(idx_fmt, idx))
    block = np.zeros(shard_shape, dtype=dt) if fill is None else np.full(
        shard_shape, fill, dtype=dt)
    missing = (1 << 64) - 1
    for k, (off, ln) in enumerate(pairs):
        if off == missing and ln == missing:
            continue
        sub = _unpermute(_decompress(raw[off:off + ln], None, inner_codecs),
                         dt, inner, perm)
        coords = np.unravel_index(k, grid)
        sel = tuple(slice(int(c) * i, (int(c) + 1) * i)
                    for c, i in zip(coords, inner))
        block[sel] = np.frombuffer(sub, dtype=dt).reshape(inner)
    return block.tobytes(order="C")


def _read_v3(root: str, name: str) -> np.ndarray:
    adir = os.path.join(root, name)
    with open(os.path.join(adir, "zarr.json")) as f:
        zjson = json.load(f)
    assert zjson["zarr_format"] == 3 and zjson["node_type"] == "array"
    data_type = zjson["data_type"]
    if isinstance(data_type, dict) and data_type.get("name") == "struct":
        # v3 structured data_type: {"name": "struct", "configuration":
        # {"fields": [{"name": ..., "data_type": ...}, ...]}}
        dt = np.dtype([
            (str(f["name"]), _V3_DTYPES[f["data_type"]])
            for f in data_type["configuration"]["fields"]
        ])
    elif isinstance(data_type, list):  # legacy array-of-pairs layout
        dt = np.dtype([(str(n), _V3_DTYPES[t]) for n, t in data_type])
    else:
        dt = np.dtype(_V3_DTYPES[data_type])
    shape = tuple(zjson["shape"])
    grid_conf = zjson["chunk_grid"]
    assert grid_conf["name"] == "regular"
    chunks = tuple(grid_conf["configuration"]["chunk_shape"])
    cke = zjson.get("chunk_key_encoding") or {}
    cke_name = cke.get("name") or "default"
    assert cke_name in ("default", "v2"), cke_name
    # spec default separator differs per scheme: "/" (default) vs "." (v2)
    sep = cke.get("configuration", {}).get("separator") or (
        "/" if cke_name == "default" else "."
    )
    fill = _fill_np(zjson.get("fill_value"), dt)
    codecs = zjson.get("codecs", [])
    shard = None
    if codecs and codecs[0].get("name") == "sharding_indexed":
        shard = codecs[0].get("configuration") or {}
        codecs = shard.get("codecs") or [{"name": "bytes"}]
    perm = None
    for codec in codecs:  # v3 transpose codec: stored layout is permuted
        if codec.get("name") == "transpose":
            perm = tuple(codec["configuration"]["order"])
    for codec in codecs:  # 'bytes' codec: endian applies to every element
        if codec.get("name") == "bytes":
            if codec.get("configuration", {}).get("endian", "little") == "big":
                dt = dt.newbyteorder(">")
                fill = _fill_np(zjson.get("fill_value"), dt)

    def chunk_bytes(coords):
        # default encoding: "c" + sep + sep-joined coords — with a "."
        # separator the key is a single file "c.0.1", not a c/ tree.
        # v2 encoding: bare sep-joined coords ("0.1"), rank-0 key "0".
        if cke_name == "v2":
            key = sep.join(str(c) for c in coords) or "0"
        else:
            key = sep.join(["c", *[str(c) for c in coords]])
        path = os.path.join(adir, key)
        if not os.path.exists(path):
            return None
        with open(path, "rb") as f:
            raw = f.read()
        if shard is not None:
            return _shard_block_bytes(raw, shard, chunks, dt, fill)
        return _unpermute(_decompress(raw, None, codecs), dt, chunks, perm)

    return _assemble(shape, chunks, dt, fill, "C", chunk_bytes)


def verify_consolidated(root: str) -> list:
    """Cross-check the PUBLISHED consolidated-metadata document against the
    WALKED per-node tree; returns the list of disagreements ([] = they
    agree). Spec basis: v2 `.zmetadata` mirrors each `<name>/.zarray` /
    `<name>/.zattrs` document verbatim; v3's inline
    ``consolidated_metadata.metadata`` mirrors each `<name>/zarr.json`.
    A consolidated doc that has drifted from the tree (a writer updated an
    array but not the doc, or vice versa) is a CORRUPT open path — readers
    trusting the doc and readers walking the tree would see different
    stores — so interop tests treat any non-empty return as a failure
    rather than trusting either side."""
    diffs: list = []
    v3path = os.path.join(root, "zarr.json")
    if os.path.exists(v3path):
        with open(v3path) as f:
            cm = json.load(f).get("consolidated_metadata")
        if not isinstance(cm, dict) or cm.get("kind") != "inline":
            return []  # nothing published; the walk is the only truth
        doc = dict(cm.get("metadata") or {})
        walked = {}
        for entry in sorted(os.listdir(root)):
            p = os.path.join(root, entry, "zarr.json")
            if os.path.isfile(p):
                with open(p) as f:
                    walked[entry] = json.load(f)
        for name in sorted(set(doc) | set(walked)):
            if name not in doc:
                diffs.append(f"{name}: in tree, missing from consolidated doc")
            elif name not in walked:
                diffs.append(f"{name}: in consolidated doc, absent from tree")
            elif doc[name] != walked[name]:
                diffs.append(
                    f"{name}: consolidated entry disagrees with "
                    f"{name}/zarr.json")
        return diffs
    zmeta = os.path.join(root, ".zmetadata")
    if not os.path.exists(zmeta):
        return []
    with open(zmeta) as f:
        md = json.load(f).get("metadata") or {}
    walked = {}
    for fname in (".zgroup", ".zattrs"):
        p = os.path.join(root, fname)
        if os.path.isfile(p):
            with open(p) as f:
                walked[fname] = json.load(f)
    for entry in sorted(os.listdir(root)):
        d = os.path.join(root, entry)
        if os.path.isfile(os.path.join(d, ".zarray")):
            for fname in (".zarray", ".zattrs"):
                p = os.path.join(d, fname)
                if os.path.isfile(p):
                    with open(p) as f:
                        walked[f"{entry}/{fname}"] = json.load(f)
    for key in sorted(set(md) | set(walked)):
        if key not in md:
            diffs.append(f"{key}: in tree, missing from .zmetadata")
        elif key not in walked:
            diffs.append(f"{key}: in .zmetadata, absent from tree")
        elif md[key] != walked[key]:
            diffs.append(f"{key}: .zmetadata entry disagrees with the file")
    return diffs
