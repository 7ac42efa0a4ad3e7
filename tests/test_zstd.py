"""Pure-Python zstd (RFC 8878): handcrafted vectors pin the frame/block/
literals/sequences wire format; differential round-trips run against the
INDEPENDENT spec-derived encoder (tests/zstd_ref_encoder.py — constructs
FSE/Huffman bitstreams by walking the decode state machine backwards, no
engine imports). The decoder is the test oracle for the engine's native
zstd kernel (tests/test_native_codecs.py); the blosc/v3 tests here run the
engine's shipped path."""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from mdio_cpp_spark.sources import blosc1
from tests.oracles.zstd import (
    ZstdFormatError,
    compress,
    decompress,
    xxh64,
)
from tests import zstd_ref_encoder as enc


def _run_frame(blocks_lits_seqs):
    """Reference sequence-execution model (frame-wide output window)."""
    out = bytearray()
    for lits, seqs in blocks_lits_seqs:
        lp = 0
        for ll, off, ml in seqs:
            out += lits[lp : lp + ll]
            lp += ll
            st = len(out) - off
            for k in range(ml):
                out.append(out[st + k])
        out += lits[lp:]
    return bytes(out)


# ------------------------------------------------------------ xxhash64

def test_xxh64_public_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    # >32-byte path (stripe accumulator)
    assert xxh64(b"x" * 100) == xxh64(b"x" * 100)
    assert xxh64(b"x" * 100) != xxh64(b"x" * 99)


# ----------------------------------------------- frame / block plumbing

def test_store_mode_roundtrip_all_fcs_sizes():
    rng = random.Random(5)
    for n in (0, 1, 255, 256, 300, 65791, 65792, 200_000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert decompress(compress(data), n) == data


def test_rle_and_raw_blocks_handcrafted():
    # multi-block frame built by hand: raw block + RLE block
    raw, rle_n = b"hello-", 10
    body = ((0 | (len(raw) << 3)).to_bytes(3, "little") + raw
            + (1 | 2 | (rle_n << 3)).to_bytes(3, "little") + b"z")
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x20, len(raw) + rle_n]) + body
    assert decompress(frame) == raw + b"z" * rle_n


def test_skippable_and_concatenated_frames():
    f1 = compress(b"first|")
    skip = struct.pack("<II", 0x184D2A53, 5) + b"JUNK!"
    f2 = compress(b"second")
    assert decompress(f1 + skip + f2) == b"first|second"


def test_window_descriptor_and_fcs_flag1():
    # non-single-segment header: window descriptor present, FCS flag 1
    content = b"w" * 300
    fhd = 1 << 6  # fcs_flag 1, not single-segment
    wd = 0  # window log 10
    body = (1 | (len(content) << 3)).to_bytes(3, "little") + content
    frame = (struct.pack("<I", 0xFD2FB528) + bytes([fhd, wd])
             + (300 - 256).to_bytes(2, "little") + body)
    assert decompress(frame) == content


def test_checksum_verified():
    frame = bytearray(compress(b"checksummed payload"))
    frame[-1] ^= 0xFF
    with pytest.raises(ZstdFormatError, match="checksum mismatch"):
        decompress(bytes(frame))


def test_error_paths():
    with pytest.raises(ZstdFormatError, match="bad zstd magic"):
        decompress(b"\x00\x01\x02\x03rest")
    # reserved block type
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x20, 4]) + (
        1 | 6 | (4 << 3)).to_bytes(3, "little") + b"abcd"
    with pytest.raises(ZstdFormatError, match="reserved block type"):
        decompress(frame)
    # dictionary refusal
    fr = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 0]) + b"\x01"
    with pytest.raises(ZstdFormatError, match="dictionaries unsupported"):
        decompress(fr)
    # declared-size bomb bound: frame says 4, raw block carries 8
    fr = struct.pack("<I", 0xFD2FB528) + bytes([0x20, 4]) + (
        1 | (8 << 3)).to_bytes(3, "little") + b"12345678"
    with pytest.raises(ZstdFormatError, match="exceeds its declared bound"):
        decompress(fr)
    # expected_size mismatch from the container
    with pytest.raises(ZstdFormatError, match="expected 9"):
        decompress(compress(b"abc"), 9)
    with pytest.raises(ZstdFormatError, match="runs past the input"):
        decompress(compress(b"abcdef")[:-6])


# -------------------------------------- handcrafted compressed blocks

def test_rle_mode_sequence_block_handcrafted():
    """Fully hand-assembled compressed block: raw literals, one sequence
    with all three categories in RLE table mode — the bitstream is two
    offset bits + sentinel, small enough to write down byte by byte."""
    block = bytes([0x40]) + b"abcdefgh" + bytes([0x01, 0x54, 0x04, 0x02,
                                                 0x03, 0x04])
    bh = (1 | (2 << 1) | (len(block) << 3)).to_bytes(3, "little")
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x20, 14]) + bh + block
    assert decompress(frame) == b"abcd" + b"d" * 6 + b"efgh"


def test_rle_literals_section():
    sec = enc.literals_rle(ord("q"), 40)
    block = sec + bytes([0])
    assert decompress(enc.frame([(2, block, None)], 40)) == b"q" * 40


# ------------------------------------- differential: FSE sequences

def test_predefined_fse_sequences():
    lits = b"abcdefghij_XYZ_0123"
    seqs = [(4, 4 + 3, 5), (3, 2 + 3, 4), (0, 9 + 3, 3)]
    block = enc.literals_raw(lits) + enc.encode_sequences(
        seqs, ("predef",), ("predef",), ("predef",))
    want = _run_frame([(lits, [(4, 4, 5), (3, 2, 4), (0, 9, 3)])])
    assert decompress(enc.frame([(2, block, None)], len(want))) == want


_LL_PROBS = [8, 8, 4, 4, 2, 2, 2, 2]
_OF_PROBS = [0, 0, 8, 8, 8, 6, 2]
_ML_PROBS = [2] * 8 + [0] * 6 + [8, 8, 16, 16]


def test_fse_described_tables():
    seqs = [(2, (1 << 2) + 1, 19), (5, (1 << 4) + 7, 17),
            (1, (1 << 3) + 2, 20), (0, (1 << 2) + 0, 18)]
    lits = b"qwertyuiopasdfg"
    block = enc.literals_raw(lits) + enc.encode_sequences(
        seqs, ("fse", _LL_PROBS, 5), ("fse", _OF_PROBS, 5),
        ("fse", _ML_PROBS, 6))
    want = _run_frame([(lits, [(ll, ov - 3, ml) for ll, ov, ml in seqs])])
    assert decompress(enc.frame([(2, block, None)], len(want))) == want


def test_repeated_offsets_incl_ll0_shift_and_rep1_minus_1():
    seqs = [(5, 5 + 3, 4), (2, 1, 4), (2, 2, 4), (0, 1, 4), (2, 3, 4),
            (0, 3, 3)]
    lits = b"ABCDEFGHIJKLM"
    block = enc.literals_raw(lits) + enc.encode_sequences(
        seqs, ("predef",), ("predef",), ("predef",))
    reps, resolved = [1, 4, 8], []
    for ll, ov, ml in seqs:
        if ov > 3:
            off = ov - 3
            reps = [off] + reps[:2]
        else:
            v = ov + (1 if ll == 0 else 0)
            if v == 1:
                off = reps[0]
            elif v == 2:
                off = reps[1]
                reps = [off, reps[0], reps[2]]
            elif v == 3:
                off = reps[2]
                reps = [off] + reps[:2]
            else:
                off = reps[0] - 1
                reps = [off] + reps[:2]
        resolved.append((ll, off, ml))
    want = _run_frame([(lits, resolved)])
    assert decompress(enc.frame([(2, block, None)], len(want))) == want


def test_repeat_table_mode_and_cross_block_matches():
    """Block 2 reuses block 1's FSE tables (mode 3) AND its matches reach
    into block 1's output — the window spans the whole frame."""
    seqsA = [(2, (1 << 2) + 1, 19), (3, (1 << 3) + 4, 17)]
    seqsB = [(1, (1 << 2) + 2, 17), (4, (1 << 4) + 3, 18)]
    litsA, litsB = b"hellohello", b"worldworld"
    bA = enc.literals_raw(litsA) + enc.encode_sequences(
        seqsA, ("fse", _LL_PROBS, 5), ("fse", _OF_PROBS, 5),
        ("fse", _ML_PROBS, 6))
    bB = enc.literals_raw(litsB) + enc.encode_sequences(
        seqsB, ("repeat", _LL_PROBS, 5), ("repeat", _OF_PROBS, 5),
        ("repeat", _ML_PROBS, 6))
    want = _run_frame([
        (litsA, [(ll, ov - 3, ml) for ll, ov, ml in seqsA]),
        (litsB, [(ll, ov - 3, ml) for ll, ov, ml in seqsB]),
    ])
    got = decompress(enc.frame([(2, bA, None), (2, bB, None)], len(want)))
    assert got == want


def test_repeat_mode_without_previous_table_rejected():
    block = enc.literals_raw(b"xy") + enc.encode_sequences(
        [(1, 1 + 3, 3)], ("repeat", _LL_PROBS, 5), ("repeat", _OF_PROBS, 5),
        ("repeat", _ML_PROBS, 6))
    with pytest.raises(ZstdFormatError, match="no previous"):
        decompress(enc.frame([(2, block, None)], 6))


def test_offset_beyond_window_rejected():
    seqs = [(2, 50 + 3, 4)]  # offset 50 with only 2 produced bytes
    block = enc.literals_raw(b"ab") + enc.encode_sequences(
        seqs, ("predef",), ("predef",), ("predef",))
    with pytest.raises(ZstdFormatError, match="match offset"):
        decompress(enc.frame([(2, block, None)], 6))


# ------------------------------------- differential: Huffman literals

_HUF = enc.HufCode([3, 2, 1])  # symbols 0..2 explicit (+ implied 3)


def test_huffman_direct_weights_single_stream():
    data = bytes([0, 1, 0, 2, 0, 1, 3, 0, 0, 1, 2, 0, 3, 1, 0, 0] * 3)
    sec = enc.literals_compressed(data, _HUF, four=False,
                                  tree=_HUF.tree_direct())
    got = decompress(enc.frame([(2, sec + bytes([0]), None)], len(data)))
    assert got == data


def test_huffman_four_streams():
    data = bytes([0, 1, 2, 3][i % 4] for i in range(201))  # uneven 4th part
    sec = enc.literals_compressed(data, _HUF, four=True,
                                  tree=_HUF.tree_direct())
    got = decompress(enc.frame([(2, sec + bytes([0]), None)], len(data)))
    assert got == data


def test_treeless_literals_reuse_previous_tree():
    data = bytes([0, 1, 2, 3, 0, 0, 1, 2] * 6)
    b1 = enc.literals_compressed(data, _HUF, four=False,
                                 tree=_HUF.tree_direct()) + bytes([0])
    b2 = enc.literals_compressed(data, _HUF, four=False, tree=None) + bytes([0])
    got = decompress(enc.frame([(2, b1, None), (2, b2, None)], 2 * len(data)))
    assert got == data + data
    # treeless FIRST block must be refused
    with pytest.raises(ZstdFormatError, match="no previous tree"):
        decompress(enc.frame([(2, b2, None)], len(data)))


def test_huffman_fse_compressed_weights():
    ws = [1, 2, 1, 3, 1, 2, 1]
    huf = enc.HufCode(ws)
    probs = [0, 18, 9, 5]  # distribution over weight values 0..3, log 5
    data = bytes([i % 8 for i in range(120)])
    sec = enc.literals_compressed(data, huf, four=False,
                                  tree=huf.tree_fse(probs, 5))
    got = decompress(enc.frame([(2, sec + bytes([0]), None)], len(data)))
    assert got == data


def test_huffman_literals_with_sequences():
    """Huffman literals + predefined FSE sequences in one block."""
    lits = bytes([0, 1, 2, 3, 1, 0, 2, 1, 0, 3, 2, 1])
    seqs = [(4, 4 + 3, 6), (2, 2 + 3, 5)]
    sec = enc.literals_compressed(lits, _HUF, four=False,
                                  tree=_HUF.tree_direct())
    block = sec + enc.encode_sequences(seqs, ("predef",), ("predef",),
                                       ("predef",))
    want = _run_frame([(lits, [(ll, ov - 3, ml) for ll, ov, ml in seqs])])
    assert decompress(enc.frame([(2, block, None)], len(want))) == want


# --------------------------------------------------- codec integration

def test_blosc_zstd_roundtrip_and_codec_chain():
    data = (np.arange(30_000) % 991).astype("<f8").tobytes()
    for shuffle in (0, 1, 2):
        fr = blosc1.compress(data, typesize=8, shuffle=shuffle, cname="zstd")
        assert blosc1.decompress(fr) == data
    from mdio_cpp_spark.sources.codecs import compress_v3, decompress_v3

    chain = [{"name": "bytes", "configuration": {"endian": "little"}},
             {"name": "zstd", "configuration": {"level": 3}}]
    payload = b"chunk payload " * 700
    encd = compress_v3(payload, chain)
    assert decompress_v3(encd, chain) == payload


def test_v3_zstd_store_roundtrip_spark_and_spec_reader(spark, tmp_path):
    """A v3 store with a {'name': 'zstd'} chain: distributed write
    (compressed-block frames since round 8), distributed scan, plus the
    independent spec reader's zstd branch over the same bytes."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.sources.zarr_store import ZarrStore
    from tests.spec_zarr_reader import read_zarr_array

    root = str(tmp_path / "zstd.zarr")
    st = ZarrStore.create(root, version=3)
    st.create_array("v", shape=(3000,), chunks=(512,), dtype="float64",
                    dims=("i",), compressor={"id": "zstd", "level": 3})
    df = spark.range(3000).select(F.col("id").alias("i"),
                                  (F.col("id") * 1.5).alias("val"))
    write_array(df, root, "v", value_cols="val")
    got = scan_array(spark, root, "v", ranges={"i": (700, 2100)}).collect()
    assert sorted(r["i"] for r in got) == list(range(700, 2100))
    assert all(r["value"] == r["i"] * 1.5 for r in got)
    vals = read_zarr_array(root, "v")
    assert np.array_equal(vals, np.arange(3000, dtype="f8") * 1.5)


def test_entropy_coded_zstd_store_reads_through_spark(spark, tmp_path):
    """THE interop case: a store whose chunks are ENTROPY-CODED zstd
    frames (FSE sequences + Huffman literals built by the independent
    encoder — stand-ins for externally-written chunks) decodes through
    the engine's distributed scan."""
    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "ext.zarr")
    n, chunk = 1024, 256
    st = ZarrStore.create(root, version=3)
    meta = st.create_array("v", shape=(n,), chunks=(chunk,), dtype="uint8",
                           dims=("i",), compressor={"id": "zstd", "level": 3},
                           fill=0)
    # each chunk's bytes: a repetitive pattern a zstd encoder would code
    # as literals + matches; build the frame with real FSE sequences
    want = np.zeros(n, dtype="u1")
    for c in range(n // chunk):
        pat = bytes([(c * 7 + k) % 13 for k in range(16)])
        lits = pat
        seqs = [(16, 16 + 3, chunk - 16)]  # one long match: period-16 fill
        block = enc.literals_raw(lits) + enc.encode_sequences(
            seqs, ("predef",), ("predef",), ("predef",))
        frame = enc.frame([(2, block, None)], chunk)
        raw = _run_frame([(lits, [(16, 16, chunk - 16)])])
        assert len(raw) == chunk
        want[c * chunk : (c + 1) * chunk] = np.frombuffer(raw, "u1")
        st.write_bytes(meta.chunk_key((c,)), frame)
    got = scan_array(spark, root, "v").collect()
    arr = np.zeros(n, dtype="u1")
    for r in got:
        arr[r["i"]] = r["value"]
    assert np.array_equal(arr, want)
    # driver-side whole-array read agrees too
    assert np.array_equal(ZarrStore.open(root).read_array("v"), want)


def test_corruption_fuzz_never_hangs_or_overallocates():
    """Random single-byte corruptions of valid frames (both store-mode and
    entropy-coded) must either still decode to SOMETHING size-bounded or
    raise ZstdFormatError — never hang, never materialize more than the
    bomb bound, never escape with a foreign exception."""
    rng = random.Random(99)
    lits = b"abcdefghij_XYZ_0123"
    seqs = [(4, 4 + 3, 5), (3, 2 + 3, 4), (0, 9 + 3, 3)]
    block = enc.literals_raw(lits) + enc.encode_sequences(
        seqs, ("predef",), ("predef",), ("predef",))
    want_len = len(_run_frame([(lits, [(4, 4, 5), (3, 2, 4), (0, 9, 3)])]))
    frames = [
        compress(bytes(rng.randrange(256) for _ in range(3000))),
        enc.frame([(2, block, None)], want_len),
    ]
    for base in frames:
        for _ in range(400):
            mut = bytearray(base)
            i = rng.randrange(len(mut))
            mut[i] ^= 1 << rng.randrange(8)
            try:
                out = decompress(bytes(mut))
                assert len(out) <= len(base) * 64  # no amplification blowup
            except ZstdFormatError:
                pass  # the expected loud failure


def test_randomized_sequence_programs_roundtrip():
    """Property-style differential: random VALID (literals, sequences)
    programs — offsets always within the produced output, lengths drawn
    across the code tables' extra-bit ranges — encoded by the independent
    encoder and decoded by the engine, 60 programs x up to 12 sequences."""
    rng = random.Random(20260815)
    for trial in range(60):
        n_seq = rng.randint(1, 12)
        lits = bytes(rng.randrange(97, 123) for _ in range(rng.randint(n_seq, 200)))
        # walk a reference execution to keep every offset legal
        out_len = 0
        lit_left = len(lits)
        seqs = []
        resolved = []
        for s in range(n_seq):
            max_ll = lit_left - (n_seq - 1 - s)  # leave 0+ for later seqs
            ll = rng.randint(0, min(max_ll, 40))
            lit_left -= ll
            out_len += ll
            if out_len == 0:
                ll = 1  # first sequence must produce a byte before a match
                lit_left -= 1
                out_len += 1
            off = rng.randint(1, out_len)
            ml = rng.choice([3, 4, 5, 17, 33, 44, 70, 131])
            seqs.append((ll, off + 3, ml))
            resolved.append((ll, off, ml))
            out_len += ml
        want = _run_frame([(lits, resolved)])
        block = enc.literals_raw(lits) + enc.encode_sequences(
            seqs, ("predef",), ("predef",), ("predef",))
        got = decompress(enc.frame([(2, block, None)], len(want)))
        assert got == want, f"trial {trial}"
