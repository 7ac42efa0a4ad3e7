"""Per-chunk compression codecs.

The reference accepts only Blosc (dataset_factory.h:295-297,344-346) and
runs it through c-blosc. Here every codec runs on one native tier: stdlib
``zlib``/``gzip``, and pyarrow's ``lz4_raw``/``snappy``/``zstd`` kernels
(pyarrow is already a hard dependency of the DSv2 source). Blosc frames go
through sources/blosc1.py, which covers all five cnames with any shuffle
(``blosclz``, c-blosc's own LZ77, is the one pure-Python kernel). The
engine's own stores default to zlib. The pure-Python lz4/snappy/zstd
codecs under tests/oracles/ check the native kernels differentially.

Zarr v2 compressor JSON: ``null`` | {"id": "zlib"|"gzip"|"blosc", ...}.
Zarr v3 codec chain: [{"name": "bytes", ...}, {"name": "gzip"|"zstd", ...}].
"""

from __future__ import annotations

import gzip
import struct
import zlib
from typing import Any

from mdio_cpp_spark.sources import blosc1 as _blosc1


class CodecError(RuntimeError):
    pass


# CRC-32C (Castagnoli, reflected polynomial 0x82F63B78) — the checksum the
# zarr v3 `crc32c` codec and the sharding_indexed index default to
# (zarr-python writes index_codecs [bytes, crc32c]). The stdlib has only
# CRC-32 (zlib.crc32, polynomial 0xEDB88320), so this is table-driven pure
# Python from the public polynomial.
_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _blosc_shuffle(val: Any) -> int:
    """Map a v3 blosc ``shuffle`` config (spec: ``noshuffle``/``shuffle``/
    ``bitshuffle``, or a v2-style int) to c-blosc's int constant."""
    if isinstance(val, int):
        return val
    return {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}.get(str(val), 1)


def _blosc_compress(data: bytes, conf: dict) -> bytes:
    """Encode one blosc frame from a v2 compressor or v3 codec config."""
    try:
        return _blosc1.compress(data, typesize=conf.get("typesize", 8) or 8,
                                clevel=conf.get("clevel", 5),
                                shuffle=_blosc_shuffle(conf.get("shuffle", 1)),
                                cname=conf.get("cname", "lz4"))
    except _blosc1.BloscFormatError as e:
        raise CodecError(str(e)) from e


def _blosc_decompress(data: bytes) -> bytes:
    try:
        return _blosc1.decompress(data)
    except _blosc1.BloscFormatError as e:
        raise CodecError(str(e)) from e


def _inflate(data: bytes, wbits: int, size: int | None) -> bytes:
    """A zlib (``wbits`` 15) or gzip (31) stage, held to ``size`` if known."""
    if size is None:
        return gzip.decompress(data) if wbits == 31 else zlib.decompress(data)
    try:
        return _blosc1.inflate(data, size, wbits)
    except _blosc1.BloscFormatError as e:
        raise CodecError(f"{'gzip' if wbits == 31 else 'zlib'} chunk: {e}") from e


def _zstd_frame_size(data: bytes) -> int:
    """Frame_Content_Size from a zstd frame header (RFC 8878 §3.1.1.1)."""
    if len(data) < 6 or data[:4] != b"\x28\xb5\x2f\xfd":
        raise CodecError("zstd chunk: not a zstd frame")
    fhd = data[4]
    fcs_len = (0, 2, 4, 8)[fhd >> 6]
    single = fhd & 0x20
    if fcs_len == 0 and single:
        fcs_len = 1
    if fcs_len == 0:
        raise CodecError("zstd chunk: frame declares no content size")
    pos = 5 + (0 if single else 1) + (0, 1, 2, 4)[fhd & 0x3]
    fcs = data[pos : pos + fcs_len]
    if len(fcs) != fcs_len:
        raise CodecError("zstd chunk: truncated frame header")
    return int.from_bytes(fcs, "little") + (256 if fcs_len == 2 else 0)


def compress_v2(data: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return data
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.compress(data, compressor.get("level", 5))
    if cid == "gzip":
        return gzip.compress(data, compresslevel=compressor.get("level", 5))
    if cid == "blosc":
        return _blosc_compress(data, compressor)
    raise CodecError(f"unsupported v2 compressor {cid!r}")


# ---------------------------------------------------------------- v2 filters
#
# numcodecs array-to-array filter chain (zarr v2 `.zarray` "filters"). The
# reference passes the chain straight through to TensorStore
# (/root/reference/mdio/zarr/zarr_v2.h:78); here the two filters that appear
# in externally-written seismic/scientific v2 stores are implemented from the
# numcodecs spec. Wire contract (per numcodecs): ENCODE applies filters in
# declaration order, each stage viewing the previous stage's BYTES as its
# `dtype` and emitting `astype` (default: dtype); the compressor runs last.
# DECODE reverses: decompress, then walk the chain BACKWARDS, each stage
# viewing bytes as `astype` and emitting `dtype`. Unknown filter ids refuse
# loudly at metadata-parse time (zarr_store._meta_from_v2), never here.

V2_FILTER_IDS = ("delta", "fixedscaleoffset", "quantize", "shuffle")


def _filter_dtypes(f: dict) -> tuple[Any, Any]:
    import numpy as np

    dtype = np.dtype(f["dtype"])
    astype = np.dtype(f["astype"]) if f.get("astype") else dtype
    return dtype, astype


def _quantize_scale(digits: int) -> float:
    """numcodecs.Quantize's bit-truncation scale for a decimal precision:
    the smallest power of two that resolves 10**-digits."""
    import math

    exp = math.log10(10.0 ** -int(digits))
    exp = int(math.floor(exp)) if exp < 0 else int(math.ceil(exp))
    bits = math.ceil(math.log(10.0 ** -exp, 2))
    return 2.0 ** bits


def _byte_shuffle(raw: bytes, elementsize: int, forward: bool) -> bytes:
    """numcodecs.Shuffle: regroup bytes by intra-element lane. A trailing
    partial element (len % elementsize) passes through unshuffled — the
    c-blosc shuffle's documented leftover handling (memcpy of the remainder
    after the lane transpose). Zarr v2 chunks from numcodecs always have
    len % elementsize == 0 (chunk bytes are a whole number of elements), so
    the divisible case is the interop surface; the indivisible remainder
    rule is pinned against numcodecs by
    tests/test_zarr.py::test_shuffle_numcodecs_differential (importorskip —
    skipped where the wheel is absent)."""
    import numpy as np

    es = max(1, int(elementsize))
    n = len(raw) // es * es
    body, tail = raw[:n], raw[n:]
    a = np.frombuffer(body, dtype="u1")
    if forward:
        out = a.reshape(-1, es).T.tobytes(order="C")
    else:
        out = a.reshape(es, -1).T.tobytes(order="C")
    return out + tail


def encode_v2_filters(raw: bytes, filters: list[dict] | tuple) -> bytes:
    """Run the filter chain forward over serialized chunk bytes."""
    import numpy as np

    buf = raw
    for f in filters:
        fid = f.get("id")
        if fid == "shuffle":
            buf = _byte_shuffle(buf, f.get("elementsize", 4), forward=True)
            continue
        dtype, astype = _filter_dtypes(f)
        arr = np.frombuffer(buf, dtype=dtype)
        if fid == "delta":
            # numcodecs.Delta: enc[0] = arr[0]; enc[1:] = diff(arr), cast
            enc = np.empty(arr.shape, dtype=astype)
            if len(arr):
                enc[0] = arr[0]
                enc[1:] = np.diff(arr)
        elif fid == "fixedscaleoffset":
            # numcodecs.FixedScaleOffset: round((x - offset) * scale), cast
            enc = np.around((arr - f["offset"]) * f["scale"]).astype(astype)
        elif fid == "quantize":
            # numcodecs.Quantize: LOSSY bit truncation to ~digits decimals —
            # round(scale*x)/scale with a power-of-two scale, then cast
            scale = _quantize_scale(f["digits"])
            enc = (np.around(scale * arr) / scale).astype(astype)
        else:  # pragma: no cover - refused at parse time
            raise CodecError(f"unsupported v2 filter {fid!r}")
        buf = enc.tobytes()
    return buf


def decode_v2_filters(raw: bytes, filters: list[dict] | tuple) -> bytes:
    """Run the filter chain backward over decompressed chunk bytes."""
    import numpy as np

    buf = raw
    for f in reversed(list(filters)):
        fid = f.get("id")
        if fid == "shuffle":
            buf = _byte_shuffle(buf, f.get("elementsize", 4), forward=False)
            continue
        dtype, astype = _filter_dtypes(f)
        enc = np.frombuffer(buf, dtype=astype)
        if fid == "delta":
            dec = np.cumsum(enc, dtype=dtype)
        elif fid in ("fixedscaleoffset", "quantize"):
            # quantize decode is a plain view-and-cast (the loss happened
            # at encode); fso reverses its affine map
            if fid == "fixedscaleoffset":
                dec = (enc / f["scale"] + f["offset"]).astype(dtype)
            else:
                dec = enc.astype(dtype)
        else:  # pragma: no cover - refused at parse time
            raise CodecError(f"unsupported v2 filter {fid!r}")
        buf = dec.tobytes()
    return buf


def decompress_v2(data: bytes, compressor: dict | None,
                  raw_size: int | None = None) -> bytes:
    """Undo a v2 compressor; a zlib/gzip stream must inflate to ``raw_size``."""
    if compressor is None:
        return data
    cid = compressor.get("id")
    if cid in ("zlib", "gzip"):
        return _inflate(data, 31 if cid == "gzip" else 15, raw_size)
    if cid == "blosc":
        return _blosc_decompress(data)
    raise CodecError(f"unsupported v2 compressor {cid!r}")


def compress_v3(data: bytes, codecs: list[dict[str, Any]]) -> bytes:
    """Apply a v3 codec chain (bytes→bytes stages only; the array→bytes
    'bytes' codec is handled by the caller's C-order serialization)."""
    for codec in codecs:
        name = codec.get("name")
        conf = codec.get("configuration") or {}
        if name in ("bytes", "transpose"):
            # both are array-level concerns the chunk codec already applied:
            # endianness via stored_dtype (the caller serializes with the
            # declared on-disk byte order — decode mirrors this), transpose
            # via the permuted layout in _raw_from_block
            continue
        if name == "gzip":
            data = gzip.compress(data, compresslevel=conf.get("level", 5))
        elif name == "zlib":
            data = zlib.compress(data, conf.get("level", 5))
        elif name == "zstd":
            data = _blosc1.zstd_compress(data, conf.get("level", 3))
        elif name == "blosc":
            data = _blosc_compress(data, conf)
        elif name == "crc32c":
            data = data + struct.pack("<I", crc32c(data))
        else:
            raise CodecError(f"unsupported v3 codec {name!r}")
    return data


def decompress_v3(data: bytes, codecs: list[dict[str, Any]],
                  raw_size: int | None = None) -> bytes:
    """Undo a v3 codec chain. ``raw_size`` is the decoded chunk's byte size;
    a zlib, gzip or zstd stage must decode to exactly it when it is the
    chain's first bytes→bytes codec (a zstd stage elsewhere to its frame's
    declared content size)."""
    for k in range(len(codecs) - 1, -1, -1):
        name = codecs[k].get("name")
        if name in ("bytes", "transpose"):
            continue  # transpose is array-level; applied by the chunk codec
        size = raw_size if all(c.get("name") in ("bytes", "transpose")
                               for c in codecs[:k]) else None
        if name in ("gzip", "zlib"):
            data = _inflate(data, 31 if name == "gzip" else 15, size)
        elif name == "zstd":
            try:
                data = _blosc1.zstd_decompress(
                    data, _zstd_frame_size(data) if size is None else size)
            except _blosc1.BloscFormatError as e:
                raise CodecError(f"zstd chunk: {e}") from e
        elif name == "blosc":
            data = _blosc_decompress(data)
        elif name == "crc32c":
            if len(data) < 4:
                raise CodecError("crc32c codec: payload shorter than checksum")
            body, want = data[:-4], struct.unpack("<I", data[-4:])[0]
            got = crc32c(body)
            if got != want:
                raise CodecError(
                    f"crc32c mismatch: stored {want:#010x}, computed {got:#010x}")
            data = body
        else:
            raise CodecError(f"unsupported v3 codec {name!r}")
    return data
