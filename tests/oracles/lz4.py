"""Pure-Python LZ4 *block* codec (the raw block format, no frame wrapper).

c-blosc's ``cname=lz4`` streams are raw LZ4 blocks (one per blosc
sub-stream) — and lz4 is the cname the reference DEFAULTS to when a spec
says ``{"name": "blosc"}`` with no cname (dataset_factory.h:237-244), so
this decoder is what makes typical reference-written stores readable
here. The block format is public and tiny
(https://github.com/lz4/lz4/blob/dev/doc/lz4_Block_format.md):

    sequence := token(1B) [litlen-ext 255*...] literals
                [offset(2B LE) [matchlen-ext 255*...]]
      token high nibble: literal count (15 → extension bytes follow,
        each 255 continues, first non-255 terminates)
      token low nibble: match length − 4 (15 → same extension scheme);
        minimum match is 4 ("minmatch")
      offset: 1…65535, distance back into the output already produced;
        offset < matchlength ⇒ overlapping copy (byte-serial semantics)
    The stream ends with a literals-only sequence (no offset follows).

TEST ORACLE: the engine decodes and encodes lz4 with pyarrow's native
``lz4_raw`` kernel (sources/blosc1.py); this independent transcription
checks it differentially (tests/test_native_codecs.py) and still decodes
every stream the engine's earlier pure-Python encoder wrote. Decode is a
per-sequence Python loop — fine for test payloads, not a throughput path.

The compressor is a greedy single-entry-hash matcher producing valid,
reasonably effective blocks (it exercises every decoder path: long
literal runs, long matches, overlaps). It makes no attempt to be
byte-identical to any reference encoder — LZ4 is a format, not a
canonical encoding; any compliant decoder (including c-blosc's) accepts
its output.
"""

from __future__ import annotations


class LZ4FormatError(RuntimeError):
    pass


_MINMATCH = 4
# spec: the last 5 bytes of a block are always literals, and the last match
# must start at least 12 bytes before the end — encoders must respect both
_LAST_LITERALS = 5
_MFLIMIT = 12


def decompress_block(src: bytes, expected_size: int | None = None) -> bytes:
    """Decode one raw LZ4 block. ``expected_size``, when given, is enforced
    exactly (blosc knows every sub-stream's uncompressed size) — and
    enforced EARLY: the output is bounds-checked inside the sequence loop,
    so a corrupt or hostile block (an RLE overlap match with long
    extensions can expand kilobytes into gigabytes) aborts as soon as it
    exceeds the declared size instead of first materializing the bomb."""
    n = len(src)
    dst = bytearray()
    i = 0
    cap = expected_size if expected_size is not None else None
    while i < n:
        token = src[i]
        i += 1
        # literals
        lit = token >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise LZ4FormatError("truncated literal-length extension")
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise LZ4FormatError("literal run past end of input")
        if cap is not None and len(dst) + lit > cap:
            raise LZ4FormatError(
                f"block exceeds declared size {cap} during literal run")
        dst += src[i : i + lit]
        i += lit
        if i == n:
            break  # terminating literals-only sequence
        # match
        if i + 2 > n:
            raise LZ4FormatError("truncated match offset")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(dst):
            raise LZ4FormatError(f"bad match offset {offset} at {len(dst)}")
        mlen = (token & 0xF) + _MINMATCH
        if (token & 0xF) == 15:
            while True:
                if i >= n:
                    raise LZ4FormatError("truncated match-length extension")
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        if cap is not None and len(dst) + mlen > cap:
            raise LZ4FormatError(
                f"block exceeds declared size {cap} during match copy")
        start = len(dst) - offset
        if offset >= mlen:
            dst += dst[start : start + mlen]
        else:  # overlapping copy: byte-serial semantics (RLE-style)
            for k in range(mlen):
                dst.append(dst[start + k])
    if expected_size is not None and len(dst) != expected_size:
        raise LZ4FormatError(
            f"block decoded to {len(dst)} bytes, expected {expected_size}")
    return bytes(dst)


def _write_varlen(out: bytearray, extra: int) -> None:
    while extra >= 255:
        out.append(255)
        extra -= 255
    out.append(extra)


def compress_block(data: bytes) -> bytes:
    """Greedy LZ4 block encoder (single-slot hash over 4-byte prefixes)."""
    n = len(data)
    out = bytearray()
    if n == 0:
        out.append(0)  # one empty-literals terminating sequence
        return bytes(out)

    def emit(lit_start: int, lit_end: int, mlen: int = 0, offset: int = 0) -> None:
        lit = lit_end - lit_start
        tok_lit = 15 if lit >= 15 else lit
        tok_mat = 0 if mlen == 0 else (15 if mlen - _MINMATCH >= 15 else mlen - _MINMATCH)
        out.append((tok_lit << 4) | tok_mat)
        if lit >= 15:
            _write_varlen(out, lit - 15)
        out.extend(data[lit_start:lit_end])
        if mlen:
            out.append(offset & 0xFF)
            out.append(offset >> 8)
            if mlen - _MINMATCH >= 15:
                _write_varlen(out, mlen - _MINMATCH - 15)

    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    limit = n - _MFLIMIT  # last match must leave MFLIMIT trailing bytes
    while i <= limit:
        key = data[i : i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 65535 and data[j : j + 4] == key:
            mlen = 4
            cap = n - _LAST_LITERALS - i  # keep the final literals intact
            while mlen < cap and data[j + mlen] == data[i + mlen]:
                mlen += 1
            if mlen >= _MINMATCH:
                emit(anchor, i, mlen, i - j)
                i += mlen
                anchor = i
                continue
        i += 1
    emit(anchor, n)  # terminating literals (≥ LAST_LITERALS by construction)
    return bytes(out)
