"""SEG-Y rev0/rev1/rev2 ingest source (public SEG standard) — wheel-free.

The reference's real-data workflow STARTS from SEG-Y: its regression test
ingests a remote .sgy with customizable trace-header fields and a 3D
poststack template (regression_tests/multidimio_compatibility_test.py:
45-110 — ``HeaderField(name, byte, format)``, ``segy_to_mdio``), and
examples/seismic_reader consumes the resulting store. This module is the
PySpark-native analog, derived purely from the public SEG-Y rev1 format
(SEG technical standard):

  * 3200-byte textual header (EBCDIC cp037 or ASCII — auto-detected),
  * 400-byte big-endian binary file header (sample interval, samples per
    trace, data-format code, extended-header count),
  * per-trace 240-byte big-endian headers with caller-declared
    ``HeaderField(name, byte, format)`` extraction (the reference's
    customization point, byte offsets 1-based per the standard),
  * sample formats 1 (IBM 4-byte hexadecimal float), 2 (int32),
    3 (int16), 5 (IEEE float32), 8 (int8), and the rev2 additions
    6 (IEEE float64), 9 (int64), 10 (uint32), 11 (uint16), 16 (uint8),
  * rev2 byte-order resolution: the 3297-3300 byte-order mark selects
    big- vs little-endian for every binary value (file header, trace
    headers, samples); pairwise-swapped files are refused loudly.

Scale design: a SEG-Y file with fixed-length traces is a flat byte grid —
``data_start + trace_index * trace_bytes`` addresses any trace with pure
arithmetic. ``scan_traces`` therefore partitions the TRACE INDEX SPACE
(``spark.range``), and each task performs ONE contiguous read of its
slice, parses headers vectorized (numpy strided views, no per-field
Python loops), and converts samples in bulk — zero shuffle, no driver
materialization, embarrassingly parallel at any file size. The ingest
(``ingest_to_store``) reuses the chunk-aligned writer, so store placement
is the same single chunk-keyed shuffle every other ingest pays.

IBM float conversion is vectorized and pinned against hand-computed
vectors plus an independent spec-derived ENCODER in tests (the
codec-verification posture: two independent implementations of a public
format check each other).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_cpp_spark.session import local_frame
from mdio_cpp_spark.sources.reader import cluster_parallelism, task_count, task_spans

TEXT_LEN = 3200
BIN_LEN = 400
TRACE_HEADER_LEN = 240

# data-format code (binary header bytes 3225-3226) → (kind, bytes/sample).
# Codes 6/9/10/11/16 are SEG-Y rev2 additions (SEG technical standard,
# 2017): IEEE float64, int64, uint32, uint16, uint8. Kinds are stored
# big-endian; a little-endian file (rev2 byte-order mark) flips the prefix
# at decode time.
_FORMATS = {
    1: ("ibm", 4),
    2: (">i4", 4),
    3: (">i2", 2),
    5: (">f4", 4),
    6: (">f8", 8),
    8: ("b", 1),
    9: (">i8", 8),
    10: (">u4", 4),
    11: (">u2", 2),
    16: ("B", 1),
}

# rev2 byte-order mark (binary-header bytes 3297-3300, 1-based 97-100
# within the header): the integer constant 0x01020304 read in the file's
# byte order. 0 → pre-rev2 file, big-endian by definition.
_BOM_BIG = 0x01020304
_BOM_LITTLE = 0x04030201  # the constant as seen through a big-endian read
_BOM_PAIRSWAP = 0x02010403  # rev2 "pairwise byte swap" legacy — refused

_FIELD_FMT = {"int32": (">i4", 4), "int16": (">i2", 2), "uint16": (">u2", 2)}


class SegyFormatError(RuntimeError):
    pass


def _file_kv(path: str):
    """Scheme-routed (kvstore, key) pair addressing ONE file. SEG-Y bytes
    flow through the same IO10 seam as the zarr layer (sources/kvstore.py)
    so ``memory://`` (the fake-fs cloud tests) and ``gs://``/``s3://``
    (fsspec when importable) paths work unchanged — the reference ingests
    straight from an S3 URL (multidimio_compatibility_test.py:53); local
    paths stay os-level. The file's directory is the store root, its
    basename the key."""
    from mdio_cpp_spark.sources.kvstore import open_kvstore

    p = path
    if p.startswith("file://"):
        p = p[len("file://"):]
    if "://" in p:
        root, _, key = p.rpartition("/")
        return open_kvstore(root), key
    root, key = os.path.split(os.path.abspath(p))
    return open_kvstore(root), key


@dataclass(frozen=True)
class HeaderField:
    """One trace-header field to extract: ``byte`` is the 1-BASED offset
    within the 240-byte trace header (the standard's convention and the
    reference's customization signature)."""

    name: str
    byte: int
    format: str = "int32"

    def __post_init__(self):
        if self.format not in _FIELD_FMT:
            raise SegyFormatError(
                f"header field format {self.format!r}: one of {sorted(_FIELD_FMT)}")
        width = _FIELD_FMT[self.format][1]
        if not 1 <= self.byte <= TRACE_HEADER_LEN - width + 1:
            raise SegyFormatError(
                f"header byte {self.byte} outside the 240-byte trace header")


# the standard's best-known fields (rev1 table 3) — callers pick a subset
# or bring their own, exactly like the reference's HeaderField list
STANDARD_FIELDS = {
    "trace_seq_line": HeaderField("trace_seq_line", 1),
    "field_record": HeaderField("field_record", 9),
    "trace_in_record": HeaderField("trace_in_record", 13),
    "energy_source_point": HeaderField("energy_source_point", 17),
    "ensemble": HeaderField("ensemble", 21),
    "trace_in_ensemble": HeaderField("trace_in_ensemble", 25),
    "trace_id": HeaderField("trace_id", 29, "int16"),
    "coord_scalar": HeaderField("coord_scalar", 71, "int16"),
    "source_x": HeaderField("source_x", 73),
    "source_y": HeaderField("source_y", 77),
    "group_x": HeaderField("group_x", 81),
    "group_y": HeaderField("group_y", 85),
    "nsamples": HeaderField("nsamples", 115, "uint16"),
    "sample_interval_us": HeaderField("sample_interval_us", 117, "uint16"),
    "cdp_x": HeaderField("cdp_x", 181),
    "cdp_y": HeaderField("cdp_y", 185),
    "inline": HeaderField("inline", 189),
    "crossline": HeaderField("crossline", 193),
}


# -------------------------------------------------------------- IBM float


def ibm_to_ieee(u32: np.ndarray) -> np.ndarray:
    """IBM System/360 hexadecimal float → float64, vectorized.

    Layout (SEG-Y rev1 §3.1 data format 1): sign bit, 7-bit base-16
    exponent in excess-64, 24-bit fraction; value =
    (-1)^s · 0.F₁₆ · 16^(E-64). A zero fraction decodes to 0.0 regardless
    of the exponent bits (hardware convention)."""
    u32 = np.asarray(u32, dtype=np.uint32)
    sign = np.where(u32 >> 31, -1.0, 1.0)
    exp = ((u32 >> 24) & 0x7F).astype(np.int64) - 64
    frac = (u32 & 0xFFFFFF).astype(np.float64) / float(1 << 24)
    out = sign * frac * np.power(16.0, exp, dtype=np.float64)
    return np.where(u32 & 0xFFFFFF, out, 0.0)


def ieee_to_ibm(vals: np.ndarray) -> np.ndarray:
    """float64 → normalized IBM hexadecimal float (uint32), vectorized —
    the export side of format 1. Mantissa is normalized into [1/16, 1)
    (first hex digit nonzero), round-to-nearest on the 24-bit fraction
    with the hex-digit carry handled; values beyond 16^63 raise,
    underflow past 16^-65 flushes to +0 (the hardware convention)."""
    v = np.asarray(vals, dtype=np.float64)
    if not np.all(np.isfinite(v)):
        raise SegyFormatError("IBM floats cannot encode NaN/Inf samples")
    sign = np.where(np.signbit(v), np.uint32(0x80000000), np.uint32(0))
    a = np.abs(v)
    m2, e2 = np.frexp(a)  # a = m2 * 2^e2, m2 in [0.5, 1)
    e16 = np.ceil(e2 / 4.0).astype(np.int64)  # base-16 exponent
    mant = np.ldexp(m2, e2 - 4 * e16)  # in [1/16, 1)
    frac = np.rint(mant * float(1 << 24)).astype(np.int64)
    carry = frac >= (1 << 24)  # rounding overflowed into a new hex digit
    frac = np.where(carry, frac >> 4, frac)
    e16 = e16 + carry
    exp = e16 + 64
    nonzero = a > 0
    if np.any((exp > 127) & nonzero):
        raise SegyFormatError("sample magnitude exceeds the IBM float range")
    flush = (exp < 0) | ~nonzero  # underflow / true zero → +0
    exp_b = np.where(flush, 0, exp).astype(np.uint32)
    frac_b = np.where(flush, 0, frac).astype(np.uint32)
    out = sign | (exp_b << np.uint32(24)) | frac_b
    return np.where(flush, np.uint32(0), out).astype(np.uint32)


# ------------------------------------------------------------ file headers


def read_text_header(path: str) -> str:
    """The 3200-byte textual header as 40 80-char lines joined by newlines.
    EBCDIC (cp037 — the standard's default) vs ASCII is auto-detected: an
    EBCDIC header's 'C' card prefix is byte 0xC3."""
    kv, key = _file_kv(path)
    raw = kv.read_range(key, 0, TEXT_LEN)
    if raw is None:
        raise SegyFormatError(f"{path}: no such file")
    if len(raw) < TEXT_LEN:
        raise SegyFormatError("file shorter than the 3200-byte textual header")
    text = raw.decode("cp037") if raw[0] == 0xC3 else raw.decode(
        "ascii", errors="replace")
    return "\n".join(text[i : i + 80] for i in range(0, TEXT_LEN, 80))


def read_binary_header(path: str) -> dict:
    """The 400-byte binary file header's load-bearing fields (1-based byte
    positions per the standard: 3213.. within the file). Byte order is
    resolved FIRST from the rev2 byte-order mark (bytes 3297-3300): the
    constant 0x01020304 stored in the file's own order. Absent (zero) mark
    → pre-rev2 file, big-endian by definition; the rev2 'pairwise byte
    swap' legacy encoding is refused loudly rather than misdecoded."""
    kv, key = _file_kv(path)
    raw = kv.read_range(key, TEXT_LEN, BIN_LEN)
    if raw is None:
        raise SegyFormatError(f"{path}: no such file")
    if len(raw) < BIN_LEN:
        raise SegyFormatError("file shorter than the 400-byte binary header")

    bom = struct.unpack_from(">I", raw, 96)[0]
    if bom in (0, _BOM_BIG):
        endianness = "big"
    elif bom == _BOM_LITTLE:
        endianness = "little"
    elif bom == _BOM_PAIRSWAP:
        raise SegyFormatError(
            "rev2 pairwise-byte-swapped file: unsupported byte ordering")
    else:
        raise SegyFormatError(
            f"byte-order mark 0x{bom:08x} is not a valid SEG-Y rev2 value")
    e = ">" if endianness == "big" else "<"

    def i16(pos: int) -> int:  # pos is 1-based within the binary header
        return struct.unpack_from(f"{e}h", raw, pos - 1)[0]

    rev = i16(301)
    return {
        "traces_per_ensemble": i16(13),
        "aux_traces_per_ensemble": i16(15),
        "sample_interval_us": i16(17),
        "samples_per_trace": i16(21),
        "format": i16(25),
        "measurement_system": i16(55),
        "segy_revision": rev,
        "fixed_length_traces": i16(303),
        "n_extended_text_headers": i16(305),
        "endianness": endianness,
    }


def file_geometry(path: str, lenient: bool = False) -> dict:
    """Resolve the trace layout: data start offset, bytes per trace, trace
    count — everything scan_traces needs to address traces arithmetically.
    Variable-length extensions are refused loudly (count -1). A file whose
    data region is not an exact multiple of the trace record raises
    instead of silently truncating — EXCEPT under ``lenient=True`` (the
    streaming tail source: a growing file may momentarily end mid-record
    while the producer's append is in flight; whole records are counted
    by floor division and the ragged remainder is revisited next
    trigger)."""
    hdr = read_binary_header(path)
    fmt = hdr["format"]
    if fmt not in _FORMATS:
        raise SegyFormatError(
            f"data format code {fmt}: supported {sorted(_FORMATS)}")
    if fmt == 1 and hdr["endianness"] == "little":
        raise SegyFormatError(
            "IBM-float samples in a little-endian rev2 file are unsupported")
    ns = hdr["samples_per_trace"]
    if ns <= 0:
        raise SegyFormatError(f"samples per trace {ns} must be positive")
    n_ext = hdr["n_extended_text_headers"]
    if n_ext < 0:
        raise SegyFormatError(
            "variable-count extended textual headers are unsupported")
    data_start = TEXT_LEN + BIN_LEN + TEXT_LEN * n_ext
    sample_bytes = _FORMATS[fmt][1]
    trace_bytes = TRACE_HEADER_LEN + ns * sample_bytes
    kv, key = _file_kv(path)
    size = kv.size(key)
    if size is None:
        raise SegyFormatError(f"{path}: no such file")
    body = size - data_start
    if body < 0 or (body % trace_bytes and not lenient):
        raise SegyFormatError(
            f"data region {body} B is not a whole number of "
            f"{trace_bytes}-B trace records (variable-length traces?)")
    return {
        **hdr,
        "data_start": data_start,
        "trace_bytes": trace_bytes,
        "n_traces": body // trace_bytes,
        "sample_bytes": sample_bytes,
    }


# ------------------------------------------------------- distributed scan


def _decode_samples(raw: np.ndarray, fmt: int, endian: str = "big") -> np.ndarray:
    """(ntraces, ns*sample_bytes) u1 view → (ntraces, ns) float64."""
    kind, width = _FORMATS[fmt]
    if kind == "ibm":
        u32 = raw.reshape(raw.shape[0], -1, 4)
        vals = (
            u32[:, :, 0].astype(np.uint32) << 24
        ) | (u32[:, :, 1].astype(np.uint32) << 16) | (
            u32[:, :, 2].astype(np.uint32) << 8
        ) | u32[:, :, 3]
        return ibm_to_ieee(vals)
    if endian == "little":
        kind = kind.replace(">", "<")
    return (
        raw.reshape(raw.shape[0], -1)
        .view(kind)
        .astype(np.float64)
    )


def _validate_fields(fields: list[HeaderField]) -> None:
    seen = set()
    for fld in fields:
        if fld.name in ("trace", "samples") or fld.name in seen:
            raise SegyFormatError(f"duplicate/reserved field name {fld.name!r}")
        seen.add(fld.name)


def _parse_trace_matrix(
    mat: np.ndarray, ids: np.ndarray, fields: list[HeaderField],
    fmt: int, with_samples: bool, endian: str = "big",
) -> pd.DataFrame:
    """(n, trace_bytes) u1 matrix + trace ids → one row per trace."""
    cols: dict = {"trace": ids}
    for fld in fields:
        dt, width = _FIELD_FMT[fld.format]
        if endian == "little":
            dt = dt.replace(">", "<")
        sl = mat[:, fld.byte - 1 : fld.byte - 1 + width]
        cols[fld.name] = (
            np.ascontiguousarray(sl).view(dt).astype(np.int64).ravel()
        )
    if with_samples:
        body = mat[:, TRACE_HEADER_LEN:]
        cols["samples"] = list(
            _decode_samples(np.ascontiguousarray(body), fmt, endian))
    return pd.DataFrame(cols)


def _trace_unit(tb: int, ns: int, with_samples: bool) -> int:
    """A trace job's ``task_count`` unit: the record plus its float64 samples."""
    return tb + (8 * ns if with_samples else 0)


def _read_trace_range(
    path: str, lo: int, hi: int, tb: int, start: int,
    fields: list[HeaderField], fmt: int, with_samples: bool,
    endian: str = "big",
) -> pd.DataFrame:
    """ONE contiguous read of traces [lo, hi) → parsed rows."""
    kv, key = _file_kv(path)
    buf = kv.read_range(key, start + lo * tb, (hi - lo) * tb)
    if buf is None or len(buf) < (hi - lo) * tb:
        raise SegyFormatError(
            f"trace range [{lo}, {hi}) runs past the file (truncated?)")
    mat = np.frombuffer(buf, dtype=np.uint8).reshape(-1, tb)
    return _parse_trace_matrix(mat, np.arange(lo, hi, dtype=np.int64),
                               fields, fmt, with_samples, endian)


def scan_traces(
    spark: SparkSession,
    path: str,
    header_fields: list[HeaderField] | None = None,
    with_samples: bool = True,
) -> DataFrame:
    """Distributed SEG-Y trace scan → one row per trace:
    (trace, <header fields...>, samples array<double>).

    Partitions the trace index space; each task does ONE contiguous read
    of its slice and parses it with numpy strided views — per-task memory
    is its slice, the driver sees nothing but the plan."""
    geo = file_geometry(path)
    n, tb, start, fmt = (geo["n_traces"], geo["trace_bytes"],
                         geo["data_start"], geo["format"])
    endian = geo["endianness"]
    fields = list(header_fields or [])
    _validate_fields(fields)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kv, key = _file_kv(path)  # rebuilt per task from the string
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            # ids from spark.range are contiguous per batch: one read
            lo, hi = int(ids[0]), int(ids[-1])
            buf = kv.read_range(key, start + lo * tb, (hi - lo + 1) * tb)
            mat = np.frombuffer(buf, dtype=np.uint8).reshape(-1, tb)
            mat = mat[ids - lo]  # robust to non-contiguous ids
            yield _parse_trace_matrix(mat, ids, fields, fmt, with_samples,
                                      endian)

    schema = "trace long" + "".join(f", {f.name} long" for f in fields)
    if with_samples:
        schema += ", samples array<double>"
    unit = _trace_unit(tb, geo["samples_per_trace"], with_samples)
    return spark.range(
        n, numPartitions=task_count(n, unit, cluster_parallelism(spark))
    ).mapInPandas(parse, schema)


# ---------------------------------------------------------------- ingest


def ingest_to_store(
    spark: SparkSession,
    segy_path: str,
    root: str,
    var: str = "amplitude",
    grid_by: tuple[str, str] | None = None,
    header_fields: list[HeaderField] | None = None,
    chunks: tuple[int, ...] | None = None,
    compressor: dict | None = None,
) -> dict:
    """SEG-Y → MDIO store, end to end (the reference's segy_to_mdio
    analog, regression_tests/multidimio_compatibility_test.py:77-85).

    ``grid_by=None``: a (trace, sample) 2-D array. ``grid_by=(il, xl)``:
    the PostStack3D shape — traces place onto the (inline, crossline,
    sample) cube by their header values' sorted ranks, and the two
    coordinate arrays are stored alongside (sel by real inline numbers).
    Both coordinate vocabularies come from ONE header-only scan (no sample
    decode) and one ``collect_set`` aggregate; they are grid-sized
    (thousands), so driver-safe at any file size. The value → rank tables
    are Arrow-built local frames (``session.local_frame``, no Python
    worker), the cell placement is a broadcast join on them, and the store
    write is the standard chunk-aligned shuffle."""
    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    geo = file_geometry(segy_path)
    ns = geo["samples_per_trace"]
    fields = list(header_fields or [])
    if grid_by is not None:
        have = {f.name for f in fields}
        fields += [STANDARD_FIELDS[g] for g in grid_by
                   if g not in have and g in STANDARD_FIELDS]
        missing = [g for g in grid_by
                   if g not in {f.name for f in fields}]
        if missing:
            raise SegyFormatError(f"grid_by fields not declared: {missing}")
    traces = scan_traces(spark, segy_path, header_fields=fields)

    # the reference's SAVE_SEGY_FILE_HEADER behavior (regression test
    # sets MDIO__IMPORT__SAVE_SEGY_FILE_HEADER=true, line 48; its
    # HeaderVariable stores exactly this, header_variable.h:100-248):
    # both FILE headers ride the store as attributes, so provenance
    # survives the format hop
    st = ZarrStore.create(root, version=2, attrs={
        "source": os.path.basename(segy_path),
        "sample_interval_us": int(geo["sample_interval_us"]),
        "segy_format": int(geo["format"]),
        "segy_text_header": read_text_header(segy_path),
        "segy_binary_header": {
            k: (v if isinstance(v, str) else int(v))
            for k, v in read_binary_header(segy_path).items()
        },
    })
    long = traces.select(
        "trace", *[f.name for f in fields],
        F.posexplode("samples").alias("sample", "v"),
    )
    if grid_by is None:
        shape = (geo["n_traces"], ns)
        st.create_array(var, shape=shape,
                        chunks=chunks or (min(2048, shape[0]), ns),
                        dtype="float64", dims=("trace", "sample"),
                        compressor=compressor)
        if fields:
            # per-trace headers land as a STRUCT array on the trace grid
            # (the reference's header-variable shape): one fused write
            st.create_array(
                "headers", shape=(shape[0],),
                chunks=(chunks[0] if chunks else min(2048, shape[0]),),
                dtype={"fields": [{"name": f.name, "format": "int64"}
                                  for f in fields]},
                dims=("trace",),
            )
        st.consolidate()
        report = write_array(long, root, var, value_cols="v")
        if fields:
            write_array(
                traces.select("trace", *[f.name for f in fields]),
                root, "headers",
                value_cols={f.name: f.name for f in fields},
            )
        return {**report, "shape": list(shape)}

    il_name, xl_name = grid_by
    # both grid vocabularies in ONE header-only job (no sample decode); each
    # set is grid-axis sized (thousands), so driver-safe at any file size
    grid_fields = [f for f in fields if f.name in grid_by]
    vocab = (scan_traces(spark, segy_path, header_fields=grid_fields, with_samples=False)
             .agg(F.collect_set(il_name), F.collect_set(xl_name)).first())
    il_vals, xl_vals = sorted(vocab[0]), sorted(vocab[1])
    shape = (len(il_vals), len(xl_vals), ns)
    st.create_array(var, shape=shape,
                    chunks=chunks or (min(64, shape[0]), min(64, shape[1]), ns),
                    dtype="float64", dims=(il_name, xl_name, "sample"),
                    compressor=compressor)
    st.create_array(f"{il_name}_coord", shape=(shape[0],), chunks=(shape[0],),
                    dtype="int64", dims=(il_name,))
    st.create_array(f"{xl_name}_coord", shape=(shape[1],), chunks=(shape[1],),
                    dtype="int64", dims=(xl_name,))
    st.consolidate()
    st.write_array_numpy(f"{il_name}_coord", np.asarray(il_vals, dtype=np.int64))
    st.write_array_numpy(f"{xl_name}_coord", np.asarray(xl_vals, dtype=np.int64))
    # value → rank via BROADCAST joins (two grid-axis-sized build sides),
    # not a create_map literal: a survey-scale axis (10⁴-10⁵ values)
    # embedded as plan literals bloats every task's serialized plan; a
    # broadcast hash join is the shape that survives any grid
    il_df = local_frame(spark, [(int(v), i) for i, v in enumerate(il_vals)],
                        f"{il_name} long, __il long")
    xl_df = local_frame(spark, [(int(v), i) for i, v in enumerate(xl_vals)],
                        f"{xl_name} long, __xl long")
    cells = (
        long.join(F.broadcast(il_df), il_name)
        .join(F.broadcast(xl_df), xl_name)
        .select(F.col("__il").alias(il_name), F.col("__xl").alias(xl_name),
                "sample", "v")
    )
    report = write_array(cells, root, var, value_cols="v")
    return {**report, "shape": list(shape)}


# ---------------------------------------------------------------- export


def _encode_samples(vals: np.ndarray, fmt: int, endian: str = "big") -> bytes:
    """(ntraces, ns) float64 → sample bytes for one task in the target
    byte order (fmt 1 is byte-order-defined by the IBM layout)."""
    if fmt == 1:
        return ieee_to_ibm(vals).astype(">u4").tobytes()
    kind, _ = _FORMATS[fmt]
    if endian == "little":
        kind = kind.replace(">", "<")
    if kind in ("b", "B"):
        return np.rint(vals).astype(kind.replace("B", "u1").replace("b", "i1")).tobytes()
    if "i" in kind or "u" in kind:
        return np.rint(vals).astype(kind).tobytes()
    return vals.astype(kind).tobytes()


def export_segy(
    spark: SparkSession,
    root: str,
    var: str,
    out_path: str,
    fmt: int = 1,
    text: str = "C 1 exported by mdio-spark",
    endian: str = "big",
) -> dict:
    """Store → SEG-Y rev1 file, the reverse of ingest_to_store — the step
    a processed cube takes back to legacy seismic tooling. The reference
    has no export at all (its regression flow is ingest-only).

    The source array's LAST dimension is the sample axis; every leading
    dimension flattens into the trace index in C order, so a (inline,
    crossline, sample) cube exports in the standard inline-major trace
    order. The output file is a flat byte grid (fixed-length traces), so
    the write parallelizes perfectly: the driver writes the two file
    headers and pre-sizes the file; each task reads a FIRST-DIM slab via
    the chunk-pruned store read, encodes its traces, and performs ONE
    contiguous positioned write — disjoint extents, no coordination, the
    local-filesystem analog of a multipart object upload. Trace headers
    carry the sequence number, nsamples/interval, and — when the store
    has ``<dim>_coord`` arrays (ingest_to_store writes them) — the real
    inline/crossline numbers at the standard byte positions 189/193."""
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    if fmt not in _FORMATS:
        raise SegyFormatError(f"data format code {fmt}: supported {sorted(_FORMATS)}")
    if endian not in ("big", "little"):
        raise SegyFormatError(f"endian {endian!r}: 'big' or 'little'")
    if endian == "little" and fmt == 1:
        raise SegyFormatError(
            "IBM-float samples in a little-endian rev2 file are unsupported")
    p = out_path[len("file://"):] if out_path.startswith("file://") else out_path
    if "://" in p:
        raise SegyFormatError(
            "export_segy writes with positioned I/O and supports local "
            "paths only; an object-store target needs a multipart upload "
            "(one part per slab) — not available wheel-free")
    out_path = p
    st = ZarrStore.open(root)
    meta = st.array_meta(var)
    if meta.ndim < 2:
        raise SegyFormatError("export needs >= 2 dims (trace axes + samples)")
    shape = tuple(meta.shape)
    ns = shape[-1]
    if ns > 32767:
        raise SegyFormatError(f"{ns} samples per trace exceeds the i16 header field")
    lead = shape[:-1]
    n_traces = int(np.prod(lead))
    dims = meta.dims or tuple(f"dim_{d}" for d in range(meta.ndim))
    interval = int(st.attrs.get("sample_interval_us", 0) or
                   meta.attrs.get("sample_interval_us", 0) or 2000)
    sample_bytes = _FORMATS[fmt][1]
    tb = TRACE_HEADER_LEN + ns * sample_bytes

    # coordinate arrays for the standard inline/crossline header slots
    il_coord = xl_coord = None
    arrays = st.arrays()
    if meta.ndim == 3:
        if f"{dims[0]}_coord" in arrays:
            il_coord = [int(x) for x in st.read_array(f"{dims[0]}_coord")]
        if f"{dims[1]}_coord" in arrays:
            xl_coord = [int(x) for x in st.read_array(f"{dims[1]}_coord")]

    # ---- driver: the two file headers + pre-sized data region. A
    # little-endian target is by definition a rev2 file: every binary
    # value (file header, trace headers, samples) flips, and the
    # byte-order mark at bytes 3297-3300 records the order.
    e = ">" if endian == "big" else "<"
    card = text.ljust(80)[:80]
    txt = (card + " " * 80 * 39)[: 80 * 40]
    bh = bytearray(BIN_LEN)
    struct.pack_into(f"{e}h", bh, 16, interval)
    struct.pack_into(f"{e}h", bh, 20, ns)
    struct.pack_into(f"{e}h", bh, 24, fmt)
    if endian == "little":
        struct.pack_into("<I", bh, 96, _BOM_BIG)  # mark in the file's order
        struct.pack_into(f"{e}h", bh, 300, 0x0200)  # rev2
    else:
        struct.pack_into(f"{e}h", bh, 300, 0x0100)  # rev1
    struct.pack_into(f"{e}h", bh, 302, 1)  # fixed-length traces
    with open(out_path, "wb") as f:
        f.write(txt.encode("cp037"))
        f.write(bh)
        f.truncate(TEXT_LEN + BIN_LEN + n_traces * tb)

    n0 = lead[0]
    rest = int(np.prod(lead[1:])) if len(lead) > 1 else 1
    root_path, version = st.root, st.version
    # one first-dimension slab: the traces a task encodes and writes
    slab_bytes = rest * _trace_unit(tb, ns, True)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = ZarrStore(root_path, version)
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            lo, hi = int(ids[0]), int(ids[-1]) + 1
            ranges = {dims[0]: (lo, hi)}
            block = s.read_array(var, ranges=ranges)
            vals = np.asarray(block, dtype=np.float64).reshape(-1, ns)
            t0 = lo * rest
            samp = _encode_samples(vals, fmt, endian)  # one bulk encode per slab
            row_b = ns * sample_bytes
            out = bytearray()
            for j in range(vals.shape[0]):
                t = t0 + j
                th = bytearray(TRACE_HEADER_LEN)
                struct.pack_into(f"{e}i", th, 0, t + 1)
                struct.pack_into(f"{e}h", th, 114, ns)
                struct.pack_into(f"{e}h", th, 116, interval)
                if il_coord is not None:
                    struct.pack_into(f"{e}i", th, 188, il_coord[t // rest])
                if xl_coord is not None:
                    struct.pack_into(f"{e}i", th, 192, xl_coord[t % rest])
                out += th
                out += samp[j * row_b : (j + 1) * row_b]
            with open(out_path, "r+b") as f:
                f.seek(TEXT_LEN + BIN_LEN + t0 * tb)
                f.write(out)
            yield pd.DataFrame({"n": [vals.shape[0]]})

    total = (
        spark.range(n0, numPartitions=task_count(n0, slab_bytes, cluster_parallelism(spark)))
        .mapInPandas(emit, "n long")
        .groupBy()
        .sum("n")
        .collect()[0][0]
    )
    if int(total or 0) != n_traces:
        raise SegyFormatError(
            f"export wrote {total} traces, expected {n_traces}")
    return {"n_traces": n_traces, "samples_per_trace": ns, "format": fmt,
            "bytes": TEXT_LEN + BIN_LEN + n_traces * tb}


# ------------------------------------------- Spark Data Source (format "segy")


def _parse_field_option(raw: str | None) -> list[HeaderField]:
    """``"inline:189:int32,crossline:193"`` → HeaderFields (format
    defaults to int32 — the reference's HeaderField default)."""
    if not raw:
        return []
    out = []
    for entry in raw.split(","):
        parts = entry.strip().split(":")
        if len(parts) == 2:
            out.append(HeaderField(parts[0], int(parts[1])))
        elif len(parts) == 3:
            out.append(HeaderField(parts[0], int(parts[1]), parts[2]))
        else:
            raise SegyFormatError(
                f"header_fields entry {entry!r}: want name:byte[:format]")
    _validate_fields(out)
    return out


def _lenient_trace_count(path: str, data_start: int, tb: int) -> int:
    """Trace count by FLOOR division — a growing file may momentarily end
    mid-trace (the producer's append in flight); the tail source reads
    only whole traces and revisits the ragged remainder next trigger."""
    kv, key = _file_kv(path)
    size = kv.size(key)
    if size is None:
        return 0  # the tailed file may not exist yet
    return max(0, (size - data_start) // tb)


from pyspark.sql.datasource import (  # noqa: E402 - section import
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


class SegyDataSource(DataSource):
    """``format("segy")`` — SEG-Y rev0/rev1 trace files as a Spark source.

    Batch: one row per trace (trace, <header_fields...>, samples).
    Streaming: TAIL a GROWING file — acquisition systems append
    fixed-length trace records, so the offset is simply the trace count
    (file-size arithmetic, no metadata read); each micro-batch emits the
    traces appended since the last committed offset through trace-range
    partitions (one contiguous read per task). Replay after a checkpoint
    restart re-reads the same half-open trace range — exactly-once as
    long as appended traces are immutable (they are: the format is
    append-only by construction).

    Options: ``path``; ``header_fields`` = "name:byte[:format],…" (byte is
    1-based in the 240-byte trace header, the standard's convention);
    ``with_samples`` = true|false;
    ``starting_offset`` = earliest|latest (streaming);
    ``max_traces_per_trigger`` (streaming cap; the first batch of a run
    is uncapped — same contract as the mdio tail source)."""

    # the registering session's defaultParallelism (see ``register_segy``)
    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "segy"

    def _parsed(self):
        path = self.options.get("path")
        if not path:
            raise SegyFormatError("format('segy') requires .option('path', …)")
        if path.startswith("file://"):
            path = path[len("file://"):]
        elif path.startswith("file:"):
            path = path[len("file:"):]
        fields = _parse_field_option(self.options.get("header_fields"))
        with_samples = str(self.options.get("with_samples", "true")).lower() != "false"
        return path, fields, with_samples

    def schema(self):
        from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                       StructField, StructType)

        _, fields, with_samples = self._parsed()
        out = [StructField("trace", LongType(), False)]
        out += [StructField(f.name, LongType(), True) for f in fields]
        if with_samples:
            out.append(StructField("samples", ArrayType(DoubleType()), True))
        return StructType(out)

    def reader(self, schema) -> "SegyReader":
        path, fields, with_samples = self._parsed()
        return SegyReader(path, fields, with_samples, self.parallelism)

    def streamReader(self, schema) -> "SegyStreamReader":
        path, fields, with_samples = self._parsed()
        return SegyStreamReader(path, fields, with_samples, self.options, self.parallelism)


@dataclass
class SegyTracePartition(InputPartition):
    """One half-open trace range [lo, hi)."""

    lo: int
    hi: int


class _SegyReadCore:
    """Shared geometry + per-partition execute for batch and stream."""

    def __init__(self, path, fields, with_samples, parallelism=None, lenient=False):
        geo = file_geometry(path, lenient=lenient)
        self.path = path
        self.fields = fields
        self.with_samples = with_samples
        self.tb = geo["trace_bytes"]
        self.start = geo["data_start"]
        self.fmt = geo["format"]
        self.endian = geo["endianness"]
        self.n_traces = geo["n_traces"]
        self.unit = _trace_unit(self.tb, geo["samples_per_trace"], with_samples)
        self.parallelism = parallelism or cluster_parallelism()

    def _slices(self, lo: int, hi: int) -> list[SegyTracePartition]:
        # an empty range is one empty partition (read yields nothing)
        return [SegyTracePartition(lo + a, lo + b)
                for a, b in task_spans(hi - lo, self.unit, self.parallelism)
                ] or [SegyTracePartition(lo, lo)]

    def read(self, partition: SegyTracePartition):
        import pyarrow as pa

        if partition.hi <= partition.lo:
            return
        pdf = _read_trace_range(
            self.path, partition.lo, partition.hi, self.tb, self.start,
            self.fields, self.fmt, self.with_samples, self.endian,
        )
        yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)


class SegyReader(_SegyReadCore, DataSourceReader):
    def partitions(self) -> list[SegyTracePartition]:
        return self._slices(0, self.n_traces)


class SegyStreamReader(_SegyReadCore, DataSourceStreamReader):
    def __init__(self, path, fields, with_samples, options, parallelism=None):
        # lenient: a tailed file may end mid-record between triggers
        super().__init__(path, fields, with_samples, parallelism, lenient=True)
        self.start_latest = options.get("starting_offset", "earliest") == "latest"
        cap = options.get("max_traces_per_trigger")
        self.max_traces = int(cap) if cap else None
        self._last_end: int | None = None

    def _frontier(self) -> int:
        return _lenient_trace_count(self.path, self.start, self.tb)

    def initialOffset(self) -> dict:
        start = self._frontier() if self.start_latest else 0
        self._last_end = start
        return {"trace": start}

    def latestOffset(self) -> dict:
        # stateless across repeated probes within one trigger; the cap
        # keys off the last KNOWN baseline and never applies blind (a
        # blind cap could regress a restored checkpoint)
        end = self._frontier()
        if self.max_traces is not None and self._last_end is not None:
            end = max(min(end, self._last_end + self.max_traces), self._last_end)
        return {"trace": end}

    def partitions(self, start: dict, end: dict) -> list[SegyTracePartition]:
        lo, hi = int(start["trace"]), int(end["trace"])
        if self._last_end is None or lo > self._last_end:
            self._last_end = lo
        return self._slices(lo, hi)

    def commit(self, end: dict) -> None:
        self._last_end = int(end["trace"])


def register_segy(spark) -> None:
    """Register the segy format on a session (idempotent), carrying its
    defaultParallelism as ``datasource.register`` does."""
    spark.dataSource.register(
        type("SegyDataSource", (SegyDataSource,), {"parallelism": cluster_parallelism(spark)})
    )


def apply_coord_scalar(coord, scalar):
    """SEG-Y coordinate scalar semantics (trace-header bytes 71-72,
    rev1 §C-3): a POSITIVE scalar multiplies the stored coordinate, a
    NEGATIVE one divides by its magnitude, zero means unscaled. Pure
    column arithmetic (whole-stage codegen, no UDF); returns double."""
    from pyspark.sql import functions as F

    coord = coord.cast("double")
    return (
        F.when(scalar > 0, coord * scalar)
        .when(scalar < 0, coord / -scalar)
        .otherwise(coord)
    )
