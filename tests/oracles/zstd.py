"""Pure-Python Zstandard decoder (RFC 8878) + a store-mode encoder.

TEST ORACLE: the engine runs zstd on pyarrow's native kernel (libzstd;
sources/blosc1.py ``zstd_compress``/``zstd_decompress``). This independent
transcription of RFC 8878 checks it differentially
(tests/test_native_codecs.py) and is the spec reader's zstd decoder
(tests/spec_zarr_reader.py). It implements DECODE in full for the
non-dictionary case:

  frames:     magic 0xFD2FB528, frame header (single-segment, all FCS field
              sizes, window descriptor), concatenated + skippable frames,
              xxhash64 content checksum (verified)
  blocks:     raw / RLE / compressed, 128 KiB regenerated-size bound
  literals:   raw / RLE / Huffman-compressed / treeless (repeat tree),
              1-stream and 4-stream (jump table) variants
  sequences:  FSE with predefined / RLE / FSE-described / repeat table
              modes, interleaved LL-OF-ML states, the three-slot repeated-
              offset history (incl. the literals_length==0 shift and the
              rep1-1 special case)
  entropy:    FSE table description (variable-bit forward stream, zero-
              repeat flags), Huffman weights (direct 4-bit and FSE-
              compressed two-state forms, implied last weight)

Every declared size is enforced EARLY (the lz4.py:57 bomb-bound posture):
block output is capped at 128 KiB and at the frame content size before any
byte is materialized, sequence copies are bounds-checked against the
produced output, and the backward bitstreams refuse reads past their start
except where the spec allows zero-fill (Huffman tails).

ENCODE emits one compressed-block mode — greedy-LZ sequences over the
PREDEFINED FSE tables + Huffman-compressed literals (direct 4-bit
weights, package-merge length-limited codes) — with a per-block raw
fallback whenever entropy coding does not shrink the chunk.
``level <= 0`` keeps the round-7 store mode (raw blocks only). The
encoder is pinned differentially: the spec reader's narrower decoder
(tests/spec_zarr_reader.py ``_zstd_decode``) must decode its frames.

Dictionaries (dictionary_ID != 0) are refused loudly — out of scope.
"""

from __future__ import annotations

import struct


class ZstdFormatError(RuntimeError):
    pass


_MAGIC = 0xFD2FB528
_SKIP_MAGIC_MIN = 0x184D2A50
_SKIP_MAGIC_MAX = 0x184D2A5F
_BLOCK_MAX = 128 * 1024

# ------------------------------------------------------------- xxhash64
# Public algorithm (github.com/Cyan4973/xxHash spec); zstd's content
# checksum is the LOW 32 bits of XXH64(frame_content, seed=0), LE.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            v1, v2 = _xxh_round(v1, l1), _xxh_round(v2, l2)
            v3, v4 = _xxh_round(v3, l3), _xxh_round(v4, l4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh_round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _xxh_round(0, k), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ (k * _P1) & _M64, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = ((_rotl(h ^ (data[i] * _P5) & _M64, 11)) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ------------------------------------------------------ bitstream readers


class _BackBits:
    """Backward bitstream (FSE/Huffman payloads): bits are LSB-packed into
    bytes, consumed from the END; the last byte's highest set bit is the
    padding sentinel. read(n) returns the next n bits with the first-
    consumed (highest-position) bit as MSB."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ZstdFormatError("bitstream missing its padding sentinel")
        self.data = data
        self.pos = (len(data) - 1) * 8 + data[-1].bit_length() - 1

    def read(self, n: int) -> int:
        """Strict read: overreading the stream start is corruption."""
        if n == 0:
            return 0
        if n > self.pos:
            raise ZstdFormatError("bitstream overread (corrupt data)")
        self.pos -= n
        return self._bits(self.pos, n)

    def read_zero_fill(self, n: int) -> int:
        """Huffman-tail read: missing low bits are implicit zeros."""
        if n == 0:
            return 0
        have = min(n, self.pos)
        self.pos -= have
        return self._bits(self.pos, have) << (n - have)

    def _bits(self, pos: int, n: int) -> int:
        lo_byte = pos >> 3
        hi_byte = (pos + n - 1) >> 3
        chunk = int.from_bytes(self.data[lo_byte : hi_byte + 1], "little")
        return (chunk >> (pos & 7)) & ((1 << n) - 1)


class _FwdBits:
    """Forward bitstream (FSE table descriptions): LSB-first."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        lo, hi = self.pos >> 3, (self.pos + n - 1) >> 3
        if hi >= len(self.data):
            raise ZstdFormatError("FSE description overruns its container")
        chunk = int.from_bytes(self.data[lo : hi + 1], "little")
        out = (chunk >> (self.pos & 7)) & ((1 << n) - 1)
        self.pos += n
        return out

    def bytes_consumed(self) -> int:
        return (self.pos + 7) >> 3


# --------------------------------------------------------------- FSE core


class _FseTable:
    """Decode table: per state (symbol, nb_bits, baseline)."""

    __slots__ = ("log", "sym", "nb", "base")

    def __init__(self, log: int, sym: list, nb: list, base: list):
        self.log, self.sym, self.nb, self.base = log, sym, nb, base


def _fse_build(probs: list[int], log: int) -> _FseTable:
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
    if pos != 0:
        raise ZstdFormatError("FSE distribution does not fill its table")
    nxt = [1 if p == -1 else p for p in probs]
    sym, nb, base = [0] * size, [0] * size, [0] * size
    for i in range(size):
        s = cells[i]
        x = nxt[s]
        nxt[s] += 1
        bits = log - (x.bit_length() - 1)
        sym[i], nb[i], base[i] = s, bits, (x << bits) - size
    return _FseTable(log, sym, nb, base)


def _fse_rle(symbol: int) -> _FseTable:
    """Degenerate 1-state table (RLE mode): always `symbol`, 0 bits."""
    return _FseTable(0, [symbol], [0], [0])


def _fse_read_description(
    bits: _FwdBits, max_log: int, max_symbol: int
) -> tuple[list[int], int]:
    """Parse one FSE table description (RFC 8878 §4.1.1): accuracy log,
    then variable-bit counts with small/large threshold coding and 2-bit
    zero-repeat flags. Returns (probabilities, accuracy_log)."""
    log = bits.read(4) + 5
    if log > max_log:
        raise ZstdFormatError(f"FSE accuracy log {log} > allowed {max_log}")
    remaining = (1 << log) + 1
    threshold = 1 << log
    nb = log + 1
    probs: list[int] = []
    prev_zero = False
    while remaining > 1:
        if len(probs) > max_symbol:
            raise ZstdFormatError("FSE description has too many symbols")
        if prev_zero:
            flag = bits.read(2)
            probs.extend([0] * flag)
            if len(probs) > max_symbol + 1:
                raise ZstdFormatError("FSE description has too many symbols")
            if flag == 3:
                continue
            prev_zero = False
            continue
        maxv = (2 * threshold - 1) - remaining
        low = bits.read(nb - 1)
        if low < maxv:
            value = low
        else:
            extra = bits.read(1)
            value = low | (extra << (nb - 1))
            if value >= threshold:
                value -= maxv
        count = value - 1
        remaining -= -count if count < 0 else count
        probs.append(count)
        if count == 0:
            prev_zero = True
        while remaining < threshold:
            nb -= 1
            threshold >>= 1
    if remaining != 1:
        raise ZstdFormatError("corrupt FSE description (counts overshoot)")
    if len(probs) > max_symbol + 1:
        raise ZstdFormatError("FSE description has too many symbols")
    return probs, log


# ------------------------------------------- predefined sequence tables
# RFC 8878 §3.1.1.3.2.2 default distributions (public constants).

_LL_DEFAULT = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2,
               2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1]
_ML_DEFAULT = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1]
_OF_DEFAULT = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, -1, -1, -1, -1, -1]

# LL / ML code → (baseline, extra bits) (RFC tables)
_LL_BASE = list(range(16)) + [16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128,
                              256, 512, 1024, 2048, 4096, 8192, 16384,
                              32768, 65536]
_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12,
                       13, 14, 15, 16]
_ML_BASE = list(range(3, 35)) + [35, 37, 39, 41, 43, 47, 51, 59, 67, 83,
                                 99, 131, 259, 515, 1027, 2051, 4099, 8195,
                                 16387, 32771, 65539]
_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11,
                       12, 13, 14, 15, 16]

_MAX_LOG = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}


def _predef_tables() -> dict[str, _FseTable]:
    return {
        "ll": _fse_build(_LL_DEFAULT, 6),
        "of": _fse_build(_OF_DEFAULT, 5),
        "ml": _fse_build(_ML_DEFAULT, 6),
    }


_PREDEF = None  # built lazily, shared (read-only)


# --------------------------------------------------------------- Huffman


class _HufTable:
    __slots__ = ("max_bits", "sym", "nb")

    def __init__(self, max_bits: int, sym: list, nb: list):
        self.max_bits, self.sym, self.nb = max_bits, sym, nb


def _huf_from_weights(weights: list[int]) -> _HufTable:
    """Canonical table from EXPLICIT weights (last symbol's weight implied
    by completing the total to a power of two, RFC §4.2.1)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ZstdFormatError("Huffman weights are all zero")
    target = 1 << total.bit_length()  # smallest power of 2 > total
    implied = target - total
    if implied & (implied - 1):
        raise ZstdFormatError("Huffman weights do not complete a power of 2")
    weights = weights + [implied.bit_length()]
    max_bits = target.bit_length() - 1
    if max_bits > 11:
        raise ZstdFormatError(f"Huffman code length {max_bits} > 11")
    size = 1 << max_bits
    sym, nb = [0] * size, [0] * size
    pos = 0
    for w in range(1, max_bits + 1):  # lowest weight (longest code) first
        span = 1 << (w - 1)
        for s, ws in enumerate(weights):
            if ws == w:
                for k in range(span):
                    sym[pos + k] = s
                    nb[pos + k] = max_bits + 1 - w
                pos += span
    if pos != size:
        raise ZstdFormatError("Huffman weights do not fill the table")
    return _HufTable(max_bits, sym, nb)


def _huf_read_tree(src: bytes) -> tuple[_HufTable, int]:
    """Parse a Huffman tree description; returns (table, bytes consumed)."""
    if not src:
        raise ZstdFormatError("empty Huffman tree description")
    hb = src[0]
    if hb >= 128:  # direct: 4-bit weights for (hb - 127) symbols
        n = hb - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(src):
            raise ZstdFormatError("truncated direct Huffman weights")
        weights = []
        for i in range(n):
            b = src[1 + (i >> 1)]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return _huf_from_weights(weights), 1 + nbytes
    # FSE-compressed weights: hb bytes holding a table description (fwd)
    # followed by a two-state interleaved backward bitstream
    if 1 + hb > len(src):
        raise ZstdFormatError("truncated FSE Huffman weights")
    region = src[1 : 1 + hb]
    fwd = _FwdBits(region)
    probs, log = _fse_read_description(fwd, 6, 255)
    table = _fse_build(probs, log)
    payload = region[fwd.bytes_consumed():]
    bits = _BackBits(payload)
    s1 = bits.read(log)
    s2 = bits.read(log)
    weights: list[int] = []
    while True:
        weights.append(table.sym[s1])
        if table.nb[s1] > bits.pos:
            weights.append(table.sym[s2])
            break
        s1 = table.base[s1] + bits.read(table.nb[s1])
        if len(weights) > 253:  # next two appends would pass 255
            raise ZstdFormatError("more than 255 Huffman weights")
        weights.append(table.sym[s2])
        if table.nb[s2] > bits.pos:
            weights.append(table.sym[s1])
            break
        s2 = table.base[s2] + bits.read(table.nb[s2])
    if len(weights) > 255:
        raise ZstdFormatError("more than 255 Huffman weights")
    return _huf_from_weights(weights), 1 + hb


def _huf_decode_stream(table: _HufTable, src: bytes, out_len: int) -> bytes:
    bits = _BackBits(src)
    out = bytearray()
    mb = table.max_bits
    while len(out) < out_len:
        pos = bits.pos
        have = min(mb, pos)  # peek zero-fills past the stream start…
        idx = bits._bits(pos - have, have) << (mb - have)
        nb = table.nb[idx]
        if nb > pos:  # …but the code itself must fit what remains
            raise ZstdFormatError("Huffman stream overread (corrupt data)")
        bits.pos = pos - nb
        out.append(table.sym[idx])
    if bits.pos > 0:
        raise ZstdFormatError("Huffman stream not fully consumed")
    return bytes(out)


def _huf_decode_literals(
    table: _HufTable, src: bytes, regen: int, four: bool
) -> bytes:
    if not four:
        return _huf_decode_stream(table, src, regen)
    if len(src) < 6:
        raise ZstdFormatError("4-stream literals shorter than the jump table")
    s1, s2, s3 = struct.unpack_from("<HHH", src, 0)
    body = src[6:]
    if s1 + s2 + s3 > len(body):
        raise ZstdFormatError("literal stream sizes exceed the section")
    part = (regen + 3) // 4
    if part * 3 > regen:
        raise ZstdFormatError("regenerated size too small for 4 streams")
    chunks = [body[:s1], body[s1 : s1 + s2], body[s1 + s2 : s1 + s2 + s3],
              body[s1 + s2 + s3 :]]
    sizes = [part, part, part, regen - 3 * part]
    return b"".join(
        _huf_decode_stream(table, c, n) for c, n in zip(chunks, sizes)
    )


# -------------------------------------------------------- block decoding


class _Ctx:
    """Cross-block decoding state within one frame: repeat offsets, the
    previous Huffman table (treeless literals) and previous FSE tables
    (repeat mode)."""

    def __init__(self):
        self.reps = [1, 4, 8]
        self.huf: _HufTable | None = None
        self.fse: dict[str, _FseTable | None] = {"ll": None, "of": None, "ml": None}


def _decode_literals(block: bytes, ctx: _Ctx) -> tuple[bytes, int]:
    """Literals section → (literals, bytes consumed from block)."""
    if not block:
        raise ZstdFormatError("empty compressed block")
    b0 = block[0]
    lb_type = b0 & 3
    size_fmt = (b0 >> 2) & 3
    if lb_type in (0, 1):  # raw / RLE
        if size_fmt in (0, 2):
            regen, hlen = b0 >> 3, 1
        elif size_fmt == 1:
            if len(block) < 2:
                raise ZstdFormatError("truncated literals header")
            regen, hlen = (b0 >> 4) + (block[1] << 4), 2
        else:
            if len(block) < 3:
                raise ZstdFormatError("truncated literals header")
            regen, hlen = (b0 >> 4) + (block[1] << 4) + (block[2] << 12), 3
        if regen > _BLOCK_MAX:
            raise ZstdFormatError(f"literals size {regen} > 128 KiB bound")
        if lb_type == 0:
            if hlen + regen > len(block):
                raise ZstdFormatError("raw literals run past the block")
            return bytes(block[hlen : hlen + regen]), hlen + regen
        if hlen + 1 > len(block):
            raise ZstdFormatError("truncated RLE literal byte")
        return bytes([block[hlen]]) * regen, hlen + 1
    # compressed (2) / treeless (3)
    if size_fmt == 0:
        four, hlen = False, 3
    elif size_fmt == 1:
        four, hlen = True, 3
    elif size_fmt == 2:
        four, hlen = True, 4
    else:
        four, hlen = True, 5
    if len(block) < hlen:
        raise ZstdFormatError("truncated literals header")
    if hlen == 3:
        regen = (b0 >> 4) + ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) + (block[2] << 2)
    elif hlen == 4:
        regen = (b0 >> 4) + (block[1] << 4) + ((block[2] & 0x3) << 12)
        comp = (block[2] >> 2) + (block[3] << 6)
    else:
        regen = (b0 >> 4) + (block[1] << 4) + ((block[2] & 0x3F) << 12)
        comp = (block[2] >> 6) + (block[3] << 2) + (block[4] << 10)
    if regen > _BLOCK_MAX:
        raise ZstdFormatError(f"literals size {regen} > 128 KiB bound")
    if hlen + comp > len(block):
        raise ZstdFormatError("compressed literals run past the block")
    body = block[hlen : hlen + comp]
    if lb_type == 2:
        table, used = _huf_read_tree(body)
        ctx.huf = table
        body = body[used:]
    else:
        if ctx.huf is None:
            raise ZstdFormatError("treeless literals with no previous tree")
        table = ctx.huf
    lits = _huf_decode_literals(table, body, regen, four)
    return lits, hlen + comp


def _read_seq_table(
    kind: str, mode: int, src: bytes, pos: int, ctx: _Ctx
) -> tuple[_FseTable, int]:
    global _PREDEF
    if mode == 0:
        if _PREDEF is None:
            _PREDEF = _predef_tables()
        t = _PREDEF[kind]
    elif mode == 1:
        if pos >= len(src):
            raise ZstdFormatError("truncated RLE sequence symbol")
        sym = src[pos]
        if sym > _MAX_SYM[kind]:
            raise ZstdFormatError(f"{kind} RLE symbol {sym} out of range")
        t = _fse_rle(sym)
        pos += 1
    elif mode == 2:
        fwd = _FwdBits(src[pos:])
        probs, log = _fse_read_description(fwd, _MAX_LOG[kind], _MAX_SYM[kind])
        t = _fse_build(probs, log)
        pos += fwd.bytes_consumed()
    else:
        t = ctx.fse[kind]
        if t is None:
            raise ZstdFormatError(f"repeat {kind} table with no previous one")
    ctx.fse[kind] = t
    return t, pos


def _decode_block(block: bytes, ctx: _Ctx, out_cap: int,
                  history: bytes | bytearray) -> bytes:
    """One compressed block → regenerated bytes (≤ out_cap). ``history``
    is the frame output so far — matches may reach across block
    boundaries (the window spans the whole frame, RFC §3.1.1.2). Passed
    by reference (a bytearray), never copied per block: copying made
    decode O(blocks × frame_size) on multi-MB chunks."""
    lits, pos = _decode_literals(block, ctx)
    if pos >= len(block):
        raise ZstdFormatError("block ends before its sequences section")
    b0 = block[pos]
    if b0 == 0:
        nseq, pos = 0, pos + 1
    elif b0 < 128:
        nseq, pos = b0, pos + 1
    elif b0 < 255:
        if pos + 2 > len(block):
            raise ZstdFormatError("truncated sequence count")
        nseq, pos = ((b0 - 128) << 8) + block[pos + 1], pos + 2
    else:
        if pos + 3 > len(block):
            raise ZstdFormatError("truncated sequence count")
        nseq = block[pos + 1] + (block[pos + 2] << 8) + 0x7F00
        pos += 3
    if nseq == 0:
        if len(lits) > out_cap:
            raise ZstdFormatError("block output exceeds its declared bound")
        return lits
    if pos >= len(block):
        raise ZstdFormatError("truncated sequence modes byte")
    modes = block[pos]
    pos += 1
    if modes & 0x3:
        raise ZstdFormatError("reserved sequence-mode bits set")
    ll_t, pos = _read_seq_table("ll", (modes >> 6) & 3, block, pos, ctx)
    of_t, pos = _read_seq_table("of", (modes >> 4) & 3, block, pos, ctx)
    ml_t, pos = _read_seq_table("ml", (modes >> 2) & 3, block, pos, ctx)
    bits = _BackBits(block[pos:])
    st_ll = bits.read(ll_t.log)
    st_of = bits.read(of_t.log)
    st_ml = bits.read(ml_t.log)
    out = bytearray()
    hlen = len(history)
    lit_pos = 0
    reps = ctx.reps
    for i in range(nseq):
        of_code = of_t.sym[st_of]
        if of_code > 31:
            raise ZstdFormatError(f"offset code {of_code} too large")
        offset_value = (1 << of_code) + bits.read(of_code)
        ml_code = ml_t.sym[st_ml]
        ml = _ML_BASE[ml_code] + bits.read(_ML_BITS[ml_code])
        ll_code = ll_t.sym[st_ll]
        ll = _LL_BASE[ll_code] + bits.read(_LL_BITS[ll_code])
        # repeated-offset resolution (RFC §3.1.1.5)
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
            else:  # original 3 with ll == 0
                offset = reps[0] - 1
                if offset == 0:
                    raise ZstdFormatError("repeat offset underflow")
                reps[2], reps[1], reps[0] = reps[1], reps[0], offset
        if lit_pos + ll > len(lits):
            raise ZstdFormatError("sequence literals run past the section")
        if len(out) + ll + ml > out_cap:
            raise ZstdFormatError("block output exceeds its declared bound")
        out += lits[lit_pos : lit_pos + ll]
        lit_pos += ll
        if offset > hlen + len(out):
            raise ZstdFormatError(
                f"match offset {offset} beyond {hlen + len(out)} produced bytes")
        start = len(out) - offset  # may be negative: match starts in history
        if start >= 0 and offset >= ml:
            out += out[start : start + ml]
        else:  # crosses the history boundary and/or overlaps: byte-serial
            for k in range(ml):
                p = start + k
                out.append(out[p] if p >= 0 else history[hlen + p])
        if i + 1 < nseq:
            st_ll = ll_t.base[st_ll] + bits.read(ll_t.nb[st_ll])
            st_ml = ml_t.base[st_ml] + bits.read(ml_t.nb[st_ml])
            st_of = of_t.base[st_of] + bits.read(of_t.nb[st_of])
    if bits.pos != 0:
        raise ZstdFormatError(
            f"sequence bitstream has {bits.pos} unconsumed bits")
    tail = lits[lit_pos:]
    if len(out) + len(tail) > out_cap:
        raise ZstdFormatError("block output exceeds its declared bound")
    out += tail
    return bytes(out)


# --------------------------------------------------------- frame decoding


def _decode_frame(src: bytes, i: int, expected_left: int | None) -> tuple[bytes, int]:
    """Decode one zstd frame starting at src[i] (past the magic).
    Returns (content, next offset)."""
    if i >= len(src):
        raise ZstdFormatError("truncated frame header")
    fhd = src[i]
    i += 1
    dict_flag = fhd & 3
    checksum = bool(fhd & 0x4)
    if fhd & 0x8:
        raise ZstdFormatError("reserved frame-header bit set")
    single = bool(fhd & 0x20)
    fcs_flag = fhd >> 6
    window = None
    if not single:
        if i >= len(src):
            raise ZstdFormatError("truncated window descriptor")
        wd = src[i]
        i += 1
        wlog = 10 + (wd >> 3)
        if wlog > 41:
            raise ZstdFormatError(f"window log {wlog} too large")
        base = 1 << wlog
        window = base + (base >> 3) * (wd & 7)
    dlen = (0, 1, 2, 4)[dict_flag]
    if dlen:
        if i + dlen > len(src):
            raise ZstdFormatError("truncated dictionary id")
        did = int.from_bytes(src[i : i + dlen], "little")
        i += dlen
        if did != 0:
            raise ZstdFormatError(
                f"frame needs dictionary {did} (dictionaries unsupported)")
    flen = (1 if single else 0, 2, 4, 8)[fcs_flag]
    content_size = None
    if flen:
        if i + flen > len(src):
            raise ZstdFormatError("truncated frame content size")
        content_size = int.from_bytes(src[i : i + flen], "little")
        if flen == 2:
            content_size += 256
        i += flen
    if single:
        window = content_size
    cap = content_size
    if cap is None:
        cap = expected_left if expected_left is not None else 1 << 40
    out = bytearray()
    ctx = _Ctx()
    while True:
        if i + 3 > len(src):
            raise ZstdFormatError("truncated block header")
        bh = src[i] | (src[i + 1] << 8) | (src[i + 2] << 16)
        i += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == 3:
            raise ZstdFormatError("reserved block type")
        if btype == 1:  # RLE
            if bsize > _BLOCK_MAX or len(out) + bsize > cap:
                raise ZstdFormatError("block output exceeds its declared bound")
            if i >= len(src):
                raise ZstdFormatError("truncated RLE block byte")
            out += bytes([src[i]]) * bsize
            i += 1
        elif btype == 0:  # raw
            if bsize > _BLOCK_MAX or len(out) + bsize > cap:
                raise ZstdFormatError("block output exceeds its declared bound")
            if i + bsize > len(src):
                raise ZstdFormatError("raw block runs past the input")
            out += src[i : i + bsize]
            i += bsize
        else:  # compressed
            if i + bsize > len(src):
                raise ZstdFormatError("compressed block runs past the input")
            block_cap = min(_BLOCK_MAX, cap - len(out))
            if window is not None:
                block_cap = min(block_cap, window)
            out += _decode_block(src[i : i + bsize], ctx, block_cap, out)
            i += bsize
        if last:
            break
    if content_size is not None and len(out) != content_size:
        raise ZstdFormatError(
            f"frame decoded to {len(out)} bytes, header declared {content_size}")
    if checksum:
        if i + 4 > len(src):
            raise ZstdFormatError("truncated content checksum")
        (want,) = struct.unpack_from("<I", src, i)
        i += 4
        got = xxh64(bytes(out)) & 0xFFFFFFFF
        if got != want:
            raise ZstdFormatError(
                f"content checksum mismatch: {got:08x} != {want:08x}")
    return bytes(out), i


def decompress(src: bytes, expected_size: int | None = None) -> bytes:
    """Decode a sequence of zstd frames (skippable frames skipped). When
    ``expected_size`` is given, it bounds the total output (bomb bound)
    and must match exactly."""
    out = bytearray()
    i = 0
    while i < len(src):
        if i + 4 > len(src):
            raise ZstdFormatError("truncated frame magic")
        (magic,) = struct.unpack_from("<I", src, i)
        i += 4
        if _SKIP_MAGIC_MIN <= magic <= _SKIP_MAGIC_MAX:
            if i + 4 > len(src):
                raise ZstdFormatError("truncated skippable frame size")
            (n,) = struct.unpack_from("<I", src, i)
            i += 4 + n
            if i > len(src):
                raise ZstdFormatError("skippable frame runs past the input")
            continue
        if magic != _MAGIC:
            raise ZstdFormatError(f"bad zstd magic 0x{magic:08X}")
        left = None if expected_size is None else expected_size - len(out)
        content, i = _decode_frame(src, i, left)
        out += content
        if expected_size is not None and len(out) > expected_size:
            raise ZstdFormatError(
                f"output exceeds expected size {expected_size}")
    if expected_size is not None and len(out) != expected_size:
        raise ZstdFormatError(
            f"decoded {len(out)} bytes, expected {expected_size}")
    return bytes(out)


# ----------------------------------------------------------- encoder
# One compressed-block mode (RFC 8878 §3.1.1.3): Huffman-compressed
# literals (direct 4-bit weights, 1- and 4-stream) + sequences over the
# PREDEFINED FSE tables, with per-block raw fallback when entropy coding
# does not shrink the chunk. Pinned differentially: the spec reader's
# narrower decoder (tests/spec_zarr_reader.py ``_zstd_decode``) must
# decode every frame this encoder emits.


def _pack_backward(fields: list[tuple[int, int]]) -> bytes:
    """Pack (value, nbits) fields given in DECODE-READ order into a
    backward bitstream (sentinel bit on top, LSB-first bytes) — the exact
    layout _BackBits consumes. O(total bits): fields are laid down in
    reverse with a small rolling accumulator, never a big int."""
    buf = bytearray()
    acc = 0
    nb = 0
    for v, n in reversed(fields):
        acc |= v << nb
        nb += n
        while nb >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
    acc |= 1 << nb  # padding sentinel
    nb += 1
    while nb > 0:
        buf.append(acc & 0xFF)
        acc >>= 8
        nb -= 8
    return bytes(buf)


def _huf_limited_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Optimal length-limited prefix-code lengths (package-merge). Returns
    {symbol: code_length} with Kraft EQUALITY — required so the implied
    last weight completes a power of two. Needs >= 2 symbols."""
    leaves = sorted((f, (s,)) for s, f in freqs.items())
    n = len(leaves)
    if n > (1 << max_len):
        raise ZstdFormatError("alphabet too large for the length limit")
    lst: list[tuple[int, tuple[int, ...]]] = list(leaves)
    for _ in range(max_len - 1):
        pairs = [(a[0] + b[0], a[1] + b[1])
                 for a, b in zip(lst[0::2], lst[1::2])]
        lst = sorted(pairs + leaves)
    lens = dict.fromkeys(freqs, 0)
    for _, syms in lst[: 2 * n - 2]:
        for s in syms:
            lens[s] += 1
    return lens


class _HufEncoder:
    """Canonical Huffman codes + the direct-form tree description, laid
    out exactly as _huf_from_weights reconstructs them (weight w spans at
    ascending table positions, code = top bits of the span start)."""

    def __init__(self, freqs: dict[int, int]):
        lens = _huf_limited_lengths(freqs, 11)
        self.max_bits = max(lens.values())
        self.last_sym = max(freqs)
        # weights for symbols 0 .. last_sym (zeros for absent); the last
        # one is implied by the decoder's power-of-two completion
        weights = [0] * (self.last_sym + 1)
        for s, ln in lens.items():
            weights[s] = self.max_bits + 1 - ln
        self.weights = weights
        self.code: list[tuple[int, int] | None] = [None] * 256
        pos = 0
        for w in range(1, self.max_bits + 1):
            span = 1 << (w - 1)
            for s, ws in enumerate(weights):
                if ws == w:
                    nb = self.max_bits + 1 - w
                    self.code[s] = (pos >> (self.max_bits - nb), nb)
                    pos += span
        if pos != 1 << self.max_bits:
            raise ZstdFormatError("incomplete Huffman code (Kraft != 1)")

    def tree_direct(self) -> bytes:
        """Direct 4-bit weights header: symbols 0..last_sym-1 explicit,
        last implied. Valid only while last_sym <= 128 (header byte is
        127 + n); the caller falls back to raw literals otherwise."""
        n = self.last_sym  # number of EXPLICIT weights
        out = bytearray([127 + n])
        for i in range(0, n, 2):
            hi = self.weights[i] << 4
            lo = self.weights[i + 1] if i + 1 < n else 0
            out.append(hi | lo)
        return bytes(out)

    def encode_stream(self, data: bytes) -> bytes:
        code = self.code
        return _pack_backward([code[b] for b in data])


def _encode_huffman_literals(lits: bytes) -> bytes | None:
    """Compressed-literals section (lb_type 2) or None when Huffman can't
    apply (one symbol, high-byte alphabet) or doesn't shrink."""
    from collections import Counter

    freqs: dict[int, int] = dict(Counter(lits))
    if len(freqs) < 2 or max(freqs) > 128:
        return None  # RLE/raw literals handle these
    huf = _HufEncoder(freqs)
    tree = huf.tree_direct()
    regen = len(lits)
    four = regen > 1023
    if four:
        part = (regen + 3) // 4
        chunks = (lits[:part], lits[part : 2 * part],
                  lits[2 * part : 3 * part], lits[3 * part :])
        streams = [huf.encode_stream(c) for c in chunks]
        if max(len(s) for s in streams[:3]) > 0xFFFF:
            return None  # jump-table u16 overflow: incompressible anyway
        body = tree + struct.pack(
            "<HHH", len(streams[0]), len(streams[1]), len(streams[2])
        ) + b"".join(streams)
    else:
        body = tree + huf.encode_stream(lits)
    comp = len(body)
    if not four:
        if comp > 1023:
            return None
        head = (2 | (0 << 2) | (regen << 4) | (comp << 14)).to_bytes(3, "little")
    elif regen < 1024 and comp < 1024:
        head = (2 | (1 << 2) | (regen << 4) | (comp << 14)).to_bytes(3, "little")
    elif regen < (1 << 14) and comp < (1 << 14):
        head = (2 | (2 << 2) | (regen << 4) | (comp << 18)).to_bytes(4, "little")
    else:
        head = (2 | (3 << 2) | (regen << 4) | (comp << 22)).to_bytes(5, "little")
    return head + body


def _encode_raw_literals(lits: bytes) -> bytes:
    n = len(lits)
    if n < 32:
        return bytes([n << 3]) + lits
    if n < 4096:
        return (0 | (1 << 2) | (n << 4)).to_bytes(2, "little") + lits
    return (0 | (3 << 2) | (n << 4)).to_bytes(3, "little") + lits


def _encode_rle_literals(byte: int, n: int) -> bytes:
    if n < 32:
        return bytes([1 | (n << 3), byte])
    if n < 4096:
        return (1 | (1 << 2) | (n << 4)).to_bytes(2, "little") + bytes([byte])
    return (1 | (3 << 2) | (n << 4)).to_bytes(3, "little") + bytes([byte])


def _encode_literals_section(lits: bytes) -> bytes:
    if lits and len(set(lits)) == 1:
        return _encode_rle_literals(lits[0], len(lits))
    raw = _encode_raw_literals(lits)
    huf = _encode_huffman_literals(lits)
    return huf if huf is not None and len(huf) < len(raw) else raw


def _lz_parse(
    data: bytes,
    lo: int = 0,
    hi: int | None = None,
    table: dict[bytes, int] | None = None,
) -> tuple[list[tuple[int, int, int]], bytes]:
    """Greedy single-slot-hash LZ parse of ``data[lo:hi)``. Returns
    ([(literal_len, offset_value, match_len)], literals) where
    offset_value = offset + 3 (no repeat-offset shorthand — keeps every
    independent decoder path trivial).

    ``table`` carries absolute positions and is SHARED across the frame's
    blocks: matches may reach back into earlier blocks (the zstd window
    spans the whole single-segment frame, and the decoder's history
    parameter resolves them), so a multi-block chunk with long-range
    repetition compresses instead of resetting every 128 KiB. Offsets are
    capped below 2^28 (the predefined OF table's last code)."""
    n = len(data) if hi is None else hi
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    if table is None:
        table = {}
    anchor = lo
    i = lo
    miss = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        j = table.get(key)
        table[key] = i
        if j is None or (i - j) + 3 >= (1 << 28):
            i += 1 + (miss >> 6)  # lz4-style acceleration through noise
            miss += 1
            continue
        miss = 0
        m = 4
        while i + m + 8 <= n and data[j + m : j + m + 8] == data[i + m : i + m + 8]:
            m += 8
        while i + m < n and data[j + m] == data[i + m]:
            m += 1
        lits += data[anchor:i]
        seqs.append((i - anchor, (i - j) + 3, m))
        end = i + m
        k = i + 1
        stop = min(end - 1, i + 8, n - 4)  # strictly before end: the main
        while k <= stop:  # loop re-probes end and must not self-match
            table[data[k : k + 4]] = k
            k += 1
        i = end
        anchor = end
    lits += data[anchor:n]  # tail bounded at hi, not the whole buffer
    return seqs, bytes(lits)


def _fse_walk(table: _FseTable, codes: list[int]) -> tuple[int, list[tuple[int, int]]]:
    """Backward walk over a DECODE table: produce (initial_state, update
    fields) such that reading them regenerates ``codes``. The predecessor
    of successor state ``succ`` emitting symbol s is the unique state u
    with sym(u)==s whose [baseline, baseline+2^nb) window contains succ;
    the update field is (succ - baseline, nb)."""
    by_sym: dict[int, list[int]] = {}
    for st, s in enumerate(table.sym):
        by_sym.setdefault(s, []).append(st)
    rev = [by_sym[codes[-1]][0]]
    for s in reversed(codes[:-1]):
        succ = rev[-1]
        for u in by_sym[s]:
            if table.base[u] <= succ < table.base[u] + (1 << table.nb[u]):
                rev.append(u)
                break
        else:  # pragma: no cover - full decode tables always have one
            raise ZstdFormatError("no FSE predecessor state")
    states = rev[::-1]
    fields = [(states[i + 1] - table.base[states[i]], table.nb[states[i]])
              for i in range(len(states) - 1)]
    return states[0], fields


def _seq_code(value: int, bases: list[int], bits: list[int]) -> tuple[int, int, int]:
    for c in range(len(bases) - 1, -1, -1):
        if bases[c] <= value:
            return c, value - bases[c], bits[c]
    raise ZstdFormatError(f"no sequence code for {value}")


def _encode_sequences_section(seqs: list[tuple[int, int, int]]) -> bytes:
    """Sequences section: count, modes byte 0 (predefined LL/OF/ML), and
    the interleaved backward bitstream in the spec's read order."""
    nseq = len(seqs)
    out = bytearray()
    if nseq < 128:
        out.append(nseq)
    elif nseq < 0x7F00:
        out += bytes([128 + (nseq >> 8), nseq & 0xFF])
    else:
        out += bytes([255, (nseq - 0x7F00) & 0xFF, (nseq - 0x7F00) >> 8])
    out.append(0)  # predefined mode for all three machines
    ll_codes, of_codes, ml_codes = [], [], []
    extras: list[list[tuple[int, int]]] = []
    for ll, ov, ml in seqs:
        lc, le, lb = _seq_code(ll, _LL_BASE, _LL_BITS)
        oc = ov.bit_length() - 1
        mc, me, mb = _seq_code(ml, _ML_BASE, _ML_BITS)
        ll_codes.append(lc)
        of_codes.append(oc)
        ml_codes.append(mc)
        extras.append([(ov - (1 << oc), oc), (me, mb), (le, lb)])
    global _PREDEF
    if _PREDEF is None:
        _PREDEF = _predef_tables()
    ll0, ll_f = _fse_walk(_PREDEF["ll"], ll_codes)
    of0, of_f = _fse_walk(_PREDEF["of"], of_codes)
    ml0, ml_f = _fse_walk(_PREDEF["ml"], ml_codes)
    fields: list[tuple[int, int]] = [(ll0, 6), (of0, 5), (ml0, 6)]
    for i in range(nseq):
        fields += extras[i]
        if i + 1 < nseq:
            fields += [ll_f[i], ml_f[i], of_f[i]]
    out += _pack_backward(fields)
    return bytes(out)


def _encode_block(
    data: bytes,
    lo: int = 0,
    hi: int | None = None,
    table: dict[bytes, int] | None = None,
) -> bytes | None:
    """One compressed block over ``data[lo:hi)`` (lb_type-2 literals +
    predef sequences; cross-block matches via the shared ``table``) or
    None when entropy coding does not beat a raw block."""
    if hi is None:
        hi = len(data)
    seqs, lits = _lz_parse(data, lo, hi, table)
    body = _encode_literals_section(lits)
    body += _encode_sequences_section(seqs) if seqs else b"\x00"
    return body if len(body) < hi - lo else None


def compress(data: bytes, level: int = 3) -> bytes:
    """zstd frame: single-segment header with exact content size, xxh64
    content checksum, and per 128-KiB block either a compressed block
    (Huffman literals + predefined-FSE sequences) or a raw block when
    coding doesn't shrink it. ``level <= 0`` forces store mode (raw
    blocks only — the pre-round-8 behavior, kept for write-throughput
    paths that prefer speed over size)."""
    n = len(data)
    if n < 256:
        fcs_flag, fcs = 0, n.to_bytes(1, "little")
    elif n - 256 < 65536:
        fcs_flag, fcs = 1, (n - 256).to_bytes(2, "little")
    elif n < 1 << 32:
        fcs_flag, fcs = 2, n.to_bytes(4, "little")
    else:
        fcs_flag, fcs = 3, n.to_bytes(8, "little")
    head = struct.pack("<I", _MAGIC) + bytes([(fcs_flag << 6) | 0x20 | 0x4]) + fcs
    blocks = bytearray()
    if n == 0:
        blocks += (1).to_bytes(3, "little")  # last, raw, size 0
    else:
        table: dict[bytes, int] = {}  # frame-wide: matches cross blocks
        for off in range(0, n, _BLOCK_MAX):
            hi = min(off + _BLOCK_MAX, n)
            last = 1 if hi >= n else 0
            comp = _encode_block(data, off, hi, table) if level > 0 else None
            if comp is not None:
                blocks += (last | 4 | (len(comp) << 3)).to_bytes(3, "little")
                blocks += comp
            else:
                blocks += (last | ((hi - off) << 3)).to_bytes(3, "little")
                blocks += data[off:hi]
    check = struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return head + bytes(blocks) + check
