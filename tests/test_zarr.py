"""Zarr format layer + MdioDataset tests, mirroring the reference's test
strategy (SURVEY §5): per-component units (validator error paths, fill-value
table — dataset_validator_test.cc / dataset_factory_test.cc analogs),
operator-level slice semantics (dataset_test.cc:395-921), v2/v3
parametrization (TEST_P pattern), and the cross-implementation differential:
what the Spark writer produces, the independent pure-Python store reader must
reproduce, and vice versa (acceptance_test.cc:1350-1597 analog — the
zarr-python/xarray oracles aren't installed in this container, so the two
internal independent paths play the roles)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from mdio_cpp_spark.model import MdioDataset, SelError
from mdio_cpp_spark.schema.types import fill_value_for
from mdio_cpp_spark.schema.validation import SpecValidationError, validate_dataset_spec
from mdio_cpp_spark.sources.reader import plan_chunks, scan_array
from mdio_cpp_spark.sources.writer import dense_fill_frame, write_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.utils import delete_dataset, trim_dataset

TMP = "/root/repo/.zarr_cache/_tests"


def _fresh(name: str) -> str:
    path = os.path.join(TMP, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


# ------------------------------------------------------------ schema / fills

def test_fill_value_table():
    # dataset_factory.h:500-545 semantics
    assert fill_value_for("int32") == 2**31 - 1
    assert fill_value_for("uint16") == 2**16 - 1
    assert np.isnan(fill_value_for("float64"))
    assert fill_value_for("bool", 2) is None
    assert fill_value_for("bool", 3) is False
    import base64

    raw = base64.b64decode(fill_value_for({"fields": [{"name": "a", "format": "int32"},
                                                      {"name": "b", "format": "float64"}]}))
    assert raw == b"\x00" * 12


def test_validation_error_paths():
    ok = {
        "metadata": {"name": "d", "apiVersion": "1.0.0"},
        "variables": [
            {"name": "x", "dataType": "uint32", "dimensions": [{"name": "x", "size": 8}]},
            {"name": "v", "dataType": "float32", "dimensions": ["x"],
             "coordinates": ["x"]},
        ],
    }
    validate_dataset_spec(ok)
    bad_dim = {**ok, "variables": [
        {"name": "v", "dataType": "float32", "dimensions": [{"name": "y", "size": 4}]}]}
    with pytest.raises(SpecValidationError, match="not a dimension coordinate"):
        validate_dataset_spec(bad_dim)
    bad_coord = {**ok, "variables": [
        ok["variables"][0],
        {**ok["variables"][1], "coordinates": ["ghost"]}]}
    with pytest.raises(SpecValidationError, match="not a Variable"):
        validate_dataset_spec(bad_coord)
    conflict = {**ok, "variables": [
        ok["variables"][0],
        {"name": "v", "dataType": "float32", "dimensions": [{"name": "x", "size": 9}]}]}
    with pytest.raises(SpecValidationError, match="conflicting sizes"):
        validate_dataset_spec(conflict)
    bad_type = {**ok, "variables": [
        {"name": "x", "dataType": "float128", "dimensions": [{"name": "x", "size": 8}]}]}
    with pytest.raises(SpecValidationError, match="unsupported dataType"):
        validate_dataset_spec(bad_type)
    # legacy compressor keys normalize (validator.h:101-105)
    legacy = {**ok}
    legacy["variables"] = [dict(ok["variables"][0]),
                           {**ok["variables"][1], "compressor": {"name": "blosc", "algorithm": "zstd", "level": 3}}]
    spec = validate_dataset_spec(legacy)
    assert spec["variables"][1]["compressor"]["cname"] == "zstd"
    assert spec["variables"][1]["compressor"]["clevel"] == 3


def test_compressor_parameter_matrix():
    """Parameter-validation parity with the reference's compressor error
    matrix (resolve_blosc_clevel, dataset_factory.h:253-265; error paths
    dataset_factory_test.cc:668-902): clevel in [0,9], shuffle in {0,1,2}
    or the string enum, blocksize >= 0, cname in the encodable set —
    refused at spec time, BEFORE any store I/O."""
    def spec_with(comp):
        return {
            "metadata": {"name": "d", "apiVersion": "1.0.0"},
            "variables": [
                {"name": "x", "dataType": "uint32",
                 "dimensions": [{"name": "x", "size": 8}]},
                {"name": "v", "dataType": "float32", "dimensions": ["x"],
                 "coordinates": ["x"], "compressor": comp},
            ],
        }

    # the happy rows of the matrix
    for comp in (
        {"name": "blosc", "cname": "lz4", "clevel": 0, "shuffle": 0},
        {"name": "blosc", "cname": "zstd", "clevel": 9, "shuffle": "bitshuffle"},
        {"name": "blosc", "cname": "blosclz", "blocksize": 65536},
        {"name": "zlib", "level": 9},
        {"name": "blosc", "algorithm": "snappy", "level": 1},  # legacy keys
        # JSON numbers are untyped — an integral float level is accepted
        # numerically like the reference (dataset_factory.h:253-265) and
        # canonicalized to int for downstream consumers
        {"name": "blosc", "clevel": 5.0},
        {"name": "zlib", "level": 9.0},
    ):
        validate_dataset_spec(spec_with(comp))
    got = validate_dataset_spec(spec_with({"name": "blosc", "clevel": 5.0}))
    assert got["variables"][1]["compressor"]["clevel"] == 5
    assert isinstance(got["variables"][1]["compressor"]["clevel"], int)
    # clevel out of [0,9] — both directions, both key spellings, wrong type
    for comp in (
        {"name": "blosc", "clevel": 10},
        {"name": "blosc", "clevel": -1},
        {"name": "blosc", "level": 128},
        {"name": "zlib", "level": 11},
        {"name": "blosc", "clevel": "five"},
        {"name": "blosc", "clevel": True},
        {"name": "blosc", "clevel": 5.5},  # non-integral float stays refused
    ):
        with pytest.raises(SpecValidationError, match="between 0 and 9"):
            validate_dataset_spec(spec_with(comp))
    # shuffle outside {0,1,2} / the string enum
    for shuffle in (3, -1, "byteshuffle", 1.5):
        with pytest.raises(SpecValidationError, match="shuffle"):
            validate_dataset_spec(spec_with({"name": "blosc", "shuffle": shuffle}))
    # negative / non-int blocksize
    for blocksize in (-1, "big"):
        with pytest.raises(SpecValidationError, match="blocksize"):
            validate_dataset_spec(spec_with({"name": "blosc", "blocksize": blocksize}))
    # unknown cname (lz4hc decodes fine but is not encodable here — refused
    # at create time rather than dying mid-write)
    with pytest.raises(SpecValidationError, match="cname"):
        validate_dataset_spec(spec_with({"name": "blosc", "cname": "lz4hc"}))
    with pytest.raises(SpecValidationError, match="cname"):
        validate_dataset_spec(spec_with({"name": "blosc", "cname": "brotli"}))


# ------------------------------------------------------------- store roundtrip

@pytest.mark.parametrize("version", [2, 3])
def test_store_roundtrip_versions(version):
    root = _fresh(f"rt_v{version}")
    st = ZarrStore.create(root, version=version)
    st.create_array("a", shape=(300,), chunks=(64,), dtype="float32", dims=("i",),
                    compressor={"id": "zlib" if version == 2 else "gzip", "level": 5})
    arr = np.linspace(0, 1, 300, dtype="f4")
    st.write_array_numpy("a", arr)
    st.consolidate()
    st2 = ZarrStore.open(root)
    assert st2.version == version
    assert np.array_equal(st2.read_array("a"), arr)
    # a multi-chunk box: chunks 0-4, clipped at both ends
    assert np.array_equal(st2.read_array("a", ranges={"i": (50, 290)}), arr[50:290])
    # partial chunk at the edge: 300 = 4*64 + 44 → last chunk padded
    assert st2.array_meta("a").grid_shape() == (5,)


def test_unwritten_chunks_read_fill():
    # iselWithStride behavior pin (dataset_test.cc:436-560): unwritten cells
    # come back as the dtype's fill
    root = _fresh("fill")
    st = ZarrStore.create(root, version=2)
    st.create_array("u", shape=(100,), chunks=(10,), dtype="uint32", dims=("i",))
    st.write_array_numpy("u", np.arange(10, dtype="u4"), origin=(40,))
    got = st.read_array("u")
    assert (got[:40] == 2**32 - 1).all()
    assert np.array_equal(got[40:50], np.arange(10))
    assert (got[50:] == 2**32 - 1).all()
    # a multi-chunk box over absent, written, absent chunks (3, 4, 5)
    box = st.read_array("u", ranges={"i": (35, 55)})
    assert np.array_equal(box, got[35:55])
    assert (box[:5] == 2**32 - 1).all() and (box[15:] == 2**32 - 1).all()


# ------------------------------------------------------------ dataset model

def _toy_ds(path: str) -> MdioDataset:
    spec = {
        "metadata": {"name": "toy", "apiVersion": "1.0.0"},
        "variables": [
            {"name": "img", "dataType": "float32",
             "dimensions": [{"name": "il", "size": 48}, {"name": "xl", "size": 24}],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [16, 16]}}},
             "coordinates": ["il", "xl"]},
            {"name": "il", "dataType": "int64", "dimensions": [{"name": "il", "size": 48}]},
            {"name": "xl", "dataType": "int64", "dimensions": [{"name": "xl", "size": 24}]},
        ],
    }
    ds = MdioDataset.from_json(spec, path)
    ds.store.write_array_numpy("il", np.arange(100, 148, dtype="i8"))
    ds.store.write_array_numpy("xl", np.arange(0, 48, 2, dtype="i8"))
    ds.store.write_array_numpy("img", np.arange(48 * 24, dtype="f4").reshape(48, 24))
    return MdioDataset.open(path)


def test_isel_clamps_and_prunes():
    ds = _toy_ds(_fresh("toy1"))
    v = ds.isel(il=(8, 40), xl=(0, 10)).var("img")
    # il chunks 0..2 (3), xl chunk 0 (1) → 3 of 6 total
    assert v.planned_chunks() == 3
    assert ds.var("img").planned_chunks() == 6
    # clamped beyond domain (variable.h:1211-1232)
    assert ds.isel(il=(40, 400)).var("img").get_intervals()["il"] == (40, 48)
    arr = ds.isel(il=(8, 40), xl=(0, 10)).var("img").read()
    assert arr.shape == (32, 10)


def test_sel_semantics_match_reference():
    ds = _toy_ds(_fresh("toy2"))
    # range: inclusive stop (dataset.h:872-876)
    out = ds.sel(il=(110, 120))
    assert out.var("img").get_intervals()["il"] == (10, 21)
    # missing point value errors (dataset.h:840-847)
    with pytest.raises(SelError, match="not found"):
        ds.sel(il=99999)
    # membership list gated (dataset.h:675-684)
    with pytest.raises(SelError, match="unimplemented"):
        ds.sel(il=[110, 112])
    # non-dimension-coordinate label rejected
    with pytest.raises(SelError, match="dimension coordinate"):
        ds.sel(img=1.0)
    # duplicate endpoints error (dataset.h:824-838)
    ds.store.write_array_numpy("xl", np.zeros(24, dtype="i8"))
    ds2 = MdioDataset.open(ds.path)
    with pytest.raises(SelError, match="exactly one"):
        ds2.sel(xl=(0, 0))


def test_sel_point_multi_occurrence_runs():
    # ALL occurrences kept, one range per contiguous run (dataset.h:737-755)
    root = _fresh("toy3")
    ds = _toy_ds(root)
    coord = np.arange(100, 148, dtype="i8")
    coord[5:8] = 7
    coord[20:22] = 7
    ds.store.write_array_numpy("il", coord)
    ds = MdioDataset.open(root)
    out = ds.sel(il=7)
    assert out._runs["il"] == [(5, 8), (20, 22)]
    assert out.var("img").planned_chunks() == 4  # 2 runs × 2 xl-chunks? (runs in il-chunk 0 and 1)


def test_metadata_commit_staging():
    ds = _toy_ds(_fresh("toy4"))
    ds.set_stats("img", {"count": 1, "sum": 2.0})
    ds.set_units("img", {"length": "m"})
    ds.update_attrs(None, owner="tests")
    assert "statsV1" not in ds.store.arrays()["img"].attrs  # staged, unpublished
    ds.commit_metadata()
    re = MdioDataset.open(ds.path)
    assert re.var("img").attrs["statsV1"]["count"] == 1
    assert re.var("img").attrs["unitsV1"] == {"length": "m"}
    assert re.store.attrs["owner"] == "tests"


def test_trim_and_delete():
    root = _fresh("toy5")
    ds = _toy_ds(root)
    report = trim_dataset(root, il=20)
    assert report["img"] == 2  # il-chunks 2 beyond ceil(20/16)=2 → coords 2 × 2 xl-chunks... wholly-beyond rows 32..47
    re = MdioDataset.open(root)
    assert re.var("img").meta.shape == (20, 24)
    assert np.array_equal(re.var("img").read(), np.arange(48 * 24, dtype="f4").reshape(48, 24)[:20])
    with pytest.raises(ValueError, match="cannot grow"):
        trim_dataset(root, il=100)
    delete_dataset(root)
    assert not os.path.exists(root)
    with pytest.raises(FileNotFoundError):
        delete_dataset(root)


def test_grow_dataset():
    # grow = metadata-only resize (trim.h:98-112 Resize, grow direction):
    # shape metadata changes, ZERO chunk objects are touched, and the
    # grown-but-unwritten region reads back as fill
    root = _fresh("toy6")
    _toy_ds(root)
    n_objects = sum(len(fs) for _, _, fs in os.walk(root))
    from mdio_cpp_spark.utils import grow_dataset

    report = grow_dataset(root, il=64)
    assert report["img"] == (64 - 48) * 24
    assert report["il"] == 64 - 48
    assert sum(len(fs) for _, _, fs in os.walk(root)) == n_objects
    re_ds = MdioDataset.open(root)
    assert re_ds.var("img").meta.shape == (64, 24)
    out = re_ds.var("img").read()
    assert np.array_equal(
        out[:48], np.arange(48 * 24, dtype="f4").reshape(48, 24))
    assert np.isnan(out[48:]).all()
    with pytest.raises(ValueError, match="cannot shrink"):
        grow_dataset(root, il=10)


def test_header_only_flagging():
    # string dtypes flagged metadata-only like the reference (zarr_v2.h:139-162)
    root = _fresh("hdr")
    st = ZarrStore.create(root, version=2)
    st.create_array("txt", shape=(4,), chunks=(4,), dtype=np.dtype("<U8"), dims=("i",))
    assert st.array_meta("txt").header_only


# ------------------------------------------------------------- spark paths

def test_spark_scan_stride_and_fill(spark):
    root = _fresh("sp1")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(500,), chunks=(100,), dtype="int32", dims=("i",),
                    compressor={"id": "zlib", "level": 3})
    st.write_array_numpy("v", np.arange(300, dtype="i4"), origin=(0,))
    st.consolidate()
    pdf = (
        scan_array(spark, root, "v", ranges={"i": (50, 450, 4)})
        .orderBy("i").toPandas()
    )
    idx = np.arange(50, 450, 4)
    exp = np.where(idx < 300, idx, 2**31 - 1)
    assert np.array_equal(pdf["i"], idx)
    assert np.array_equal(pdf["value"], exp)


@pytest.mark.parametrize("version", [2, 3])
def test_spark_write_then_pure_python_read(spark, version):
    # differential: Spark chunk-aligned writer vs independent numpy reader,
    # TEST_P over both zarr versions like the reference's suites
    root = _fresh(f"sp2_v{version}")
    st = ZarrStore.create(root, version=version)
    st.create_array("w", shape=(1000,), chunks=(128,), dtype="float64", dims=("i",),
                    compressor={"id": "zlib" if version == 2 else "gzip", "level": 2})
    st.consolidate()
    from pyspark.sql import functions as F

    src = dense_fill_frame(spark, (1000,), ["i"], 0.0).withColumn("value", F.col("i") * 0.75)
    report = write_array(src, root, "w")
    assert report["chunks_written"] == 8 and report["cells_written"] == 1000
    assert np.allclose(ZarrStore.open(root).read_array("w"), np.arange(1000) * 0.75)


def test_scan_rejects_header_only_and_empty_selection(spark):
    root = _fresh("sp4")
    st = ZarrStore.create(root, version=2)
    st.create_array("txt", shape=(4,), chunks=(4,), dtype=np.dtype("|O"), dims=("i",))
    st.create_array("v", shape=(100,), chunks=(10,), dtype="int32", dims=("i",))
    st.consolidate()
    with pytest.raises(TypeError, match="metadata-only"):
        scan_array(spark, root, "txt")
    # empty selection → empty DataFrame with the right schema, zero tasks
    empty = scan_array(spark, root, "v", ranges={"i": (500, 600)})
    assert empty.count() == 0 and empty.columns == ["i", "value"]


def test_value_filter_pushdown(spark):
    root = _fresh("sp5")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",))
    st.write_array_numpy("v", np.arange(1000, dtype="f8"))
    st.consolidate()
    got = scan_array(spark, root, "v", value_filter=(">=", 990.0)).orderBy("i").toPandas()
    assert list(got["value"]) == [float(x) for x in range(990, 1000)]
    with pytest.raises(ValueError, match="op"):
        scan_array(spark, root, "v", value_filter=("~", 1.0))


def test_value_filter_validated_before_planning(spark):
    """A bad value_filter raises even when the selection is empty: the
    check runs before the empty-selection early return."""
    root = _fresh("sp5b")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(100,), chunks=(10,), dtype="float64", dims=("x",))
    st.create_array("c", shape=(100,), chunks=(10,), dtype="complex64", dims=("x",))
    st.create_array("h", shape=(100,), chunks=(10,), dtype={"fields": [
        {"name": "a", "format": "int32"}]}, dims=("x",))
    st.consolidate()
    empty = {"x": (0, 0)}
    with pytest.raises(ValueError, match="unsupported value_filter op"):
        scan_array(spark, root, "v", ranges=empty, value_filter=("~", 1))
    for var in ("c", "h"):
        with pytest.raises(ValueError, match="scalar arrays only"):
            scan_array(spark, root, var, ranges=empty, value_filter=(">", 1))


def test_plan_chunks_empty_selection():
    root = _fresh("sp3")
    st = ZarrStore.create(root, version=2)
    meta = st.create_array("v", shape=(100,), chunks=(10,), dtype="int32", dims=("i",))
    assert plan_chunks(meta, {"i": (200, 300)})[1] == 0


def test_float16_and_bool_roundtrip(spark):
    # float16 stores half-precision (scan widens to float32); bool keeps the
    # v2 null-fill convention (unwritten cells degrade to False on read)
    root = _fresh("f16b")
    st = ZarrStore.create(root, version=2)
    st.create_array("h", shape=(100,), chunks=(32,), dtype="float16", dims=("i",))
    vals = (np.arange(100) / 7.0).astype("f2")
    st.write_array_numpy("h", vals)
    st.create_array("flags", shape=(100,), chunks=(32,), dtype="bool", dims=("i",))
    st.write_array_numpy("flags", (np.arange(100) % 3 == 0), origin=(0,))
    st.consolidate()
    pdf = scan_array(spark, root, "h").orderBy("i").toPandas()
    assert pdf["value"].dtype == np.float32
    assert np.array_equal(pdf["value"].to_numpy(), vals.astype("f4"))
    flags = ZarrStore.open(root).read_array("flags")
    assert flags.dtype == np.bool_ and flags[:99:3].all() and not flags[1]


def test_aligned_multi_variable_scan(spark):
    from mdio_cpp_spark.model import MdioDataset

    root = _fresh("align")
    _toy_ds(root)
    ds = MdioDataset.open(root)
    # align img with itself under different aliases via the dataset helper
    out = ds.isel(il=(0, 4), xl=(0, 4)).to_df_aligned(spark, {"img": "a"})
    assert out.count() == 16 and set(out.columns) == {"il", "xl", "a"}


def test_uint64_scans_as_decimal(spark):
    # SURVEY §1.2: Spark has no unsigned 64-bit — uint64 widens to
    # Decimal(20,0); values above int64 max must survive exactly
    from decimal import Decimal

    root = _fresh("u64")
    st = ZarrStore.create(root, version=2)
    st.create_array("u", shape=(10,), chunks=(4,), dtype="uint64", dims=("i",))
    st.write_array_numpy("u", np.arange(2**63, 2**63 + 10, dtype="u8"))
    st.consolidate()
    pdf = scan_array(spark, root, "u").orderBy("i").toPandas()
    assert pdf["value"].iloc[3] == Decimal(2**63 + 3)
    # fill reads back as uint64 max
    assert st.array_meta("u").fill == 2**64 - 1


def test_complex_roundtrip_spark_write(spark):
    from pyspark.sql import functions as F

    root = _fresh("cpx")
    st = ZarrStore.create(root, version=2)
    st.create_array("c", shape=(200,), chunks=(64,), dtype="complex128", dims=("i",))
    src = dense_fill_frame(spark, (200,), ["i"], 0.0).select(
        "i", (F.col("i") * 0.5).alias("re"), (-F.col("i")).cast("double").alias("im")
    )
    write_array(src, root, "c", value_cols={"re": "re", "im": "im"})
    back = ZarrStore.open(root).read_array("c")
    assert np.allclose(back.real, np.arange(200) * 0.5)
    assert np.allclose(back.imag, -np.arange(200))


def test_partial_write_preserves_existing_cells(spark):
    # Variable::Write touches only the written region: a second write that
    # partially covers a chunk must NOT reset the chunk's other cells to fill
    from pyspark.sql import functions as F

    root = _fresh("rmw")
    st = ZarrStore.create(root, version=2)
    st.create_array("w", shape=(100,), chunks=(50,), dtype="float64", dims=("i",))
    st.consolidate()
    first = dense_fill_frame(spark, (100,), ["i"], 0.0).withColumn("value", F.col("i") * 1.0)
    write_array(first, root, "w")
    # second write covers only i in [10, 20) of chunk 0
    second = first.filter((F.col("i") >= 10) & (F.col("i") < 20)).withColumn(
        "value", F.col("i") + 1000.0
    )
    write_array(second, root, "w")
    got = ZarrStore.open(root).read_array("w")
    exp = np.arange(100, dtype="f8")
    exp[10:20] += 1000.0
    assert np.array_equal(got, exp)


def _store_listing(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_write_outside_domain_raises_before_any_chunk():
    """A driver-side write whose box leaves the array's domain (a negative
    or too-large origin, a block running past the edge) or whose rank does
    not match raises ValueError naming the array, the box and the shape —
    and touches no chunk (TensorStore's OutOfRange)."""
    root = _fresh("oob")
    st = ZarrStore.create(root, version=2)
    st.create_array("a", shape=(70, 70), chunks=(32, 32), dtype="float32",
                    dims=("x", "y"))
    st.write_array_numpy("a", np.ones((70, 70), dtype="f4"))
    before = _store_listing(root)
    cases = [
        (np.zeros((8, 8), "f4"), (-2, 0)),   # would create chunk -1.0
        (np.zeros((8, 8), "f4"), (100, 0)),  # would create chunk 3.0
        (np.zeros((16, 8), "f4"), (60, 0)),  # past the edge: into padding
        (np.zeros(8, "f4"), (0, 0)),         # arr.ndim mismatch
        (np.zeros((8, 8), "f4"), (0,)),      # len(origin) mismatch
    ]
    for arr, origin in cases:
        with pytest.raises(ValueError, match=r"'a'.*\(70, 70\)"):
            st.write_array_numpy("a", arr, origin=origin)
        assert _store_listing(root) == before, origin
    # the whole domain, edge to edge, still writes
    st.write_array_numpy("a", np.zeros((6, 6), "f4"), origin=(64, 64))
    assert (st.read_array("a")[64:, 64:] == 0).all()


def test_chunk_map_failure_semantics(spark):
    """A truncated zlib stream in one of a 16-chunk slice's chunks: the
    read raises the codec's own error; a write over it raises too; neither
    leaves a chunk job running when it returns (the chunk pool's threads
    are kept, idle, and never more than _POOL_THREADS); the write
    writes nothing past the in-flight window and leaves every rewritten
    chunk with its new zone stats."""
    import threading
    import time
    import zlib

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.zarr_store import _POOL_THREADS, _PREFETCH_DEPTH, zone_of

    root = _fresh("trunc")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(160,), chunks=(10,), dtype="float64", dims=("i",),
                    compressor={"id": "zlib", "level": 5})
    vals = np.arange(160, dtype="f8")
    st.write_array_numpy("v", vals)
    zonemap.build_sidecar_stats(spark, root, "v")
    bad = 2
    path = os.path.join(root, "v", str(bad))
    with open(path, "rb") as f:
        raw = f.read()
    with open(path, "wb") as f:
        f.write(raw[: len(raw) // 2])
    before = _store_listing(root)
    threads = set(threading.enumerate())
    lock = threading.Lock()
    busy = {"now": 0}

    def gauged(fn):
        """Counts calls in progress; each is slowed, so the jobs after the
        failing chunk are still running when its error surfaces."""
        def call(*args):
            with lock:
                busy["now"] += 1
            try:
                time.sleep(0.005)
                return fn(*args)
            finally:
                with lock:
                    busy["now"] -= 1
        return call

    st.decode_chunk = gauged(st.decode_chunk)
    st.write_chunk = gauged(st.write_chunk)

    def new_threads():
        return [t for t in threading.enumerate() if t not in threads]

    with pytest.raises(zlib.error):
        st.read_array("v")
    assert busy["now"] == 0
    with pytest.raises(zlib.error):
        st.write_array_numpy("v", vals + 1000.0)
    assert busy["now"] == 0
    assert all(t.name.startswith("mdio-chunk") for t in new_threads())
    assert len([t for t in threading.enumerate()
                if t.name.startswith("mdio-chunk")]) <= _POOL_THREADS
    after = _store_listing(root)
    for k in range(16):
        key = os.path.join("v", str(k))
        if k < bad:  # finished before the failing chunk was collected
            assert after[key] != before[key], k
        elif k >= bad + _PREFETCH_DEPTH:  # never submitted
            assert after[key] == before[key], k
    assert after[os.path.join("v", str(bad))] == before[os.path.join("v", str(bad))]
    zones = zonemap.open_zones(ZarrStore.open(root).array_meta("v"), root)
    for k in range(16):
        key = os.path.join("v", str(k))
        new = vals[10 * k: 10 * k + 10] + (1000.0 if after[key] != before[key] else 0.0)
        assert zones.lookup_linear(k) == (True, zone_of(new)), k


def test_fused_scan_bounds_blocks_in_flight():
    """An executor scan of N variables keeps max(1, depth // N) chunks in
    flight, so a task holds about _PREFETCH_DEPTH decoded blocks whatever
    N is; one variable still overlaps several chunks."""
    import threading
    import time

    from mdio_cpp_spark.sources.reader import _fetch_blocks
    from mdio_cpp_spark.sources.zarr_store import _PREFETCH_DEPTH

    root = _fresh("fusedcap")
    st = ZarrStore.create(root, version=2)
    names = [f"v{i}" for i in range(4)]
    for n in names:
        st.create_array(n, shape=(160,), chunks=(10,), dtype="float32", dims=("i",))
        st.write_array_numpy(n, np.arange(160, dtype="f4"))
    lock = threading.Lock()
    state = {"now": 0, "peak": 0}
    decode = st.decode_chunk_box

    def gauged(meta, coords, box):
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        time.sleep(0.005)
        try:
            return decode(meta, coords, box)
        finally:
            with lock:
                state["now"] -= 1

    st.decode_chunk_box = gauged
    box = ((0, 160),)
    for n_vars in (1, 2, 4):
        state["peak"] = 0
        metas = [st.array_meta(n) for n in names[:n_vars]]
        got = list(_fetch_blocks(st, metas, box, [(k,) for k in range(16)]))
        assert [c for c, _ in got] == [(k,) for k in range(16)]
        assert all(set(b) == set(names[:n_vars]) for _, b in got)
        cap = max(1, _PREFETCH_DEPTH // n_vars)
        assert state["peak"] <= cap, (n_vars, state["peak"])
        if n_vars == 1:
            assert state["peak"] > 1


def test_map_chunks_order_and_bound_under_switching():
    """More jobs in flight than cores, jobs finishing out of order, a short
    GIL switch interval: results still come back in input order, each job
    runs once, and in-flight jobs never exceed the depth."""
    import random
    import sys
    import threading
    import time

    from mdio_cpp_spark.sources.zarr_store import map_chunks

    depth = 2 * (os.cpu_count() or 1)
    lock = threading.Lock()
    state = {"now": 0, "peak": 0, "runs": 0}
    rng = random.Random(7)
    delays = [rng.uniform(0, 0.004) for _ in range(200)]

    def job(i):
        with lock:
            state["now"] += 1
            state["runs"] += 1
            state["peak"] = max(state["peak"], state["now"])
        time.sleep(delays[i])
        with lock:
            state["now"] -= 1
        return i * i

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t0 = time.monotonic()
        got = list(map_chunks(job, range(200), depth))
        assert time.monotonic() - t0 < 30
    finally:
        sys.setswitchinterval(old)
    assert got == [(i, i * i) for i in range(200)]
    assert state["runs"] == 200 and state["now"] == 0
    assert 1 < state["peak"] <= depth


def test_map_chunks_in_forked_child():
    """A child forked after the chunk pool exists (Spark forks its Python
    workers) gets a pool of its own: its jobs run on more than one thread,
    in order, and the call returns."""
    import threading
    import time

    from mdio_cpp_spark.sources.zarr_store import map_chunks

    def job(i):
        time.sleep(0.01)
        return i, threading.get_ident()

    assert [r for _, (r, _) in map_chunks(job, range(8))] == list(range(8))
    pid = os.fork()
    if pid == 0:  # child: report through the exit code only
        ok = False
        try:
            got = list(map_chunks(job, range(8)))
            ok = ([r for _, (r, _) in got] == list(range(8))
                  and len({t for _, (_, t) in got}) > 1)
        finally:
            os._exit(0 if ok else 1)
    deadline = time.monotonic() + 30
    while True:
        done, status = os.waitpid(pid, os.WNOHANG)
        if done:
            break
        if time.monotonic() > deadline:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
            pytest.fail("map_chunks hung in a forked child")
        time.sleep(0.05)
    assert os.waitstatus_to_exitcode(status) == 0


def test_unlabeled_dim_ranges_apply():
    # regression: fallback label mismatch ('0' vs 'dim_0') silently dropped
    # range filters for arrays without dimension labels
    root = _fresh("nolabel")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(100,), chunks=(10,), dtype="int32", dims=())
    st.write_array_numpy("v", np.arange(100, dtype="i4"))
    st.consolidate()
    got = ZarrStore.open(root).read_array("v", ranges={"dim_0": (30, 40)})
    assert np.array_equal(got, np.arange(30, 40))


def test_unlabeled_dim_scan_filters(spark):
    root = _fresh("nolabel2")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(100,), chunks=(10,), dtype="int32", dims=())
    st.write_array_numpy("v", np.arange(100, dtype="i4"))
    st.consolidate()
    pdf = scan_array(spark, root, "v", ranges={"dim_0": (30, 40)}).orderBy("dim_0").toPandas()
    assert list(pdf["value"]) == list(range(30, 40))


def test_multi_run_sel_read_and_counts():
    # regression: _runs was ignored by read()/num_samples()/get_intervals()
    root = _fresh("runs2")
    ds = _toy_ds(root)
    coord = np.arange(100, 148, dtype="i8")
    coord[5:8] = 7
    coord[20:22] = 7
    ds.store.write_array_numpy("il", coord)
    ds = MdioDataset.open(root)
    sel = ds.sel(il=7)
    v = sel.var("img")
    assert v.num_samples() == (3 + 2) * 24
    with pytest.raises(SelError, match="multi-run"):
        v.get_intervals()
    assert v.interval_runs()["il"] == [(5, 8), (20, 22)]
    arr = v.read()
    full = np.arange(48 * 24, dtype="f4").reshape(48, 24)
    assert np.array_equal(arr, np.concatenate([full[5:8], full[20:22]], axis=0))


def test_blosc_codec_branch():
    # the shipped blosc path round-trips, and the v2/v3 config mapping
    # (incl. the v3 shuffle names) is pinned here
    from mdio_cpp_spark.sources import codecs

    payload = bytes(range(256)) * 64
    comp_v2 = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "typesize": 8}
    assert codecs.decompress_v2(codecs.compress_v2(payload, comp_v2), comp_v2) == payload
    chain = [{"name": "bytes", "configuration": {"endian": "little"}},
             {"name": "blosc", "configuration": {"cname": "zstd", "clevel": 3,
                                                 "shuffle": "bitshuffle", "typesize": 4}}]
    assert codecs.decompress_v3(codecs.compress_v3(payload, chain), chain) == payload


def test_zstd_codec_gated():
    from mdio_cpp_spark.sources import codecs

    chain = [{"name": "zstd", "configuration": {}}]
    out = codecs.compress_v3(b"x" * 64, chain)
    assert codecs.decompress_v3(out, chain) == b"x" * 64
    assert codecs.decompress_v3(out, chain, 64) == b"x" * 64
    # v3 blosc shuffle names map to c-blosc's int constants
    assert codecs._blosc_shuffle("noshuffle") == 0
    assert codecs._blosc_shuffle("bitshuffle") == 2
    assert codecs._blosc_shuffle(1) == 1


@pytest.mark.parametrize("version", [2, 3])
def test_struct_scan_both_versions(spark, version):
    # SelectField over v2 AND v3 struct layouts (zarr_v3.h:81-131 field list)
    root = _fresh(f"struct_scan_v{version}")
    st = ZarrStore.create(root, version=version)
    st.create_array("h", shape=(200,), chunks=(64,), dtype={"fields": [
        {"name": "a", "format": "int32"}, {"name": "b", "format": "float64"}]},
        dims=("i",), compressor={"id": "zlib" if version == 2 else "gzip", "level": 2})
    rec = np.zeros(200, dtype=[("a", "<i4"), ("b", "<f8")])
    rec["a"] = np.arange(200)
    rec["b"] = np.arange(200) * 0.25
    st.write_array_numpy("h", rec)
    st.consolidate()
    pdf = scan_array(spark, root, "h", fields=["b"], ranges={"i": (50, 150)}).orderBy("i").toPandas()
    assert list(pdf.columns) == ["i", "b"]
    assert np.allclose(pdf["b"], np.arange(50, 150) * 0.25)
    # reopen parses the stored field list back to the same record dtype
    assert ZarrStore.open(root).array_meta("h").np_dtype == rec.dtype


def test_string_datetime_spark_scan(spark):
    root = _fresh("strdt_scan")
    st = ZarrStore.create(root, version=2)
    st.create_array("s", shape=(100,), chunks=(32,), dtype=np.dtype("<U10"), dims=("i",))
    st.write_array_numpy("s", np.array([f"p-{i}" for i in range(100)], dtype="<U10"))
    st.create_array("t", shape=(100,), chunks=(32,), dtype=np.dtype("<M8[us]"), dims=("i",))
    tv = (np.datetime64("2021-06-01T12:00:00", "us")
          + np.arange(100) * np.timedelta64(1, "h")).astype("<M8[us]")
    st.write_array_numpy("t", tv)
    st.consolidate()
    ps = scan_array(spark, root, "s", ranges={"i": (10, 20)}).orderBy("i").toPandas()
    assert list(ps["value"]) == [f"p-{i}" for i in range(10, 20)]
    pt = scan_array(spark, root, "t", ranges={"i": (0, 5)}).orderBy("i").toPandas()
    assert list(pt["value"].astype("datetime64[us]")) == list(tv[:5])


def test_decode_paths_vectorized():
    # uint64/|S decode must be vectorized (no per-cell Python loop): 1M cells
    # in well under a second, Arrow-backed decimal output
    import time

    from mdio_cpp_spark.sources.reader import _convert_values

    vals = np.arange(2**63, 2**63 + 1_000_000, dtype="u8")
    t0 = time.time()
    s = _convert_values(vals)
    took = time.time() - t0
    assert took < 1.0, f"uint64 decode took {took:.2f}s for 1M cells — loop crept back in"
    assert str(s.dtype).startswith("decimal128")
    assert int(s.iloc[3]) == 2**63 + 3
    b = np.array([b"abc", b"d\xff"], dtype="S3")
    out = _convert_values(b)
    assert list(out) == ["abc", "d�"]


# ------------------------------------------------------------- harness guards

def test_bench_and_entry_importable():
    # the round-1 failure mode: a SyntaxError in bench.py killed the perf
    # gate; compile both harness files so it can never ship again
    import py_compile

    py_compile.compile("/root/repo/bench.py", doraise=True)
    py_compile.compile("/root/repo/__spark_entry__.py", doraise=True)


def test_multi_run_sel_composes_with_isel():
    # sel(point, multi-run) then isel on the SAME dim must intersect, not
    # ignore the range
    root = _fresh("runs3")
    ds = _toy_ds(root)
    coord = np.arange(100, 148, dtype="i8")
    coord[5:8] = 7
    coord[20:22] = 7
    ds.store.write_array_numpy("il", coord)
    ds = MdioDataset.open(root)
    sel = ds.sel(il=7).isel(il=(0, 21))
    v = sel.var("img")
    assert v.interval_runs()["il"] == [(5, 8), (20, 21)]
    assert v.num_samples() == (3 + 1) * 24
    full = np.arange(48 * 24, dtype="f4").reshape(48, 24)
    assert np.array_equal(v.read(), np.concatenate([full[5:8], full[20:21]]))
    # disjoint isel → empty selection
    empty = ds.sel(il=7).isel(il=(30, 40)).var("img")
    assert empty.num_samples() == 0
    assert empty.read().shape == (0, 24)


def test_big_endian_external_store_reads(spark):
    # an externally-written >i4 store must read back byteswapped to native
    import json
    import zlib

    root = _fresh("bigend")
    os.makedirs(os.path.join(root, "v"), exist_ok=True)
    with open(os.path.join(root, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    zarray = {"zarr_format": 2, "shape": [10], "chunks": [10], "dtype": ">i4",
              "compressor": {"id": "zlib", "level": 1}, "fill_value": 0,
              "order": "C", "filters": None, "dimension_separator": "."}
    with open(os.path.join(root, "v", ".zarray"), "w") as f:
        json.dump(zarray, f)
    vals = np.arange(10, dtype=">i4")
    with open(os.path.join(root, "v", "0"), "wb") as f:
        f.write(zlib.compress(vals.tobytes()))
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    assert meta.np_dtype == np.dtype("<i4") or meta.np_dtype == np.dtype("int32")
    assert np.array_equal(st.read_array("v"), np.arange(10))
    pdf = scan_array(spark, root, "v").orderBy("dim_0").toPandas()
    assert list(pdf["value"]) == list(range(10))
    # a multi-chunk box: the same >i4 values in chunks of 4 (three chunks,
    # the last one padded)
    os.makedirs(os.path.join(root, "m"), exist_ok=True)
    with open(os.path.join(root, "m", ".zarray"), "w") as f:
        json.dump({**zarray, "chunks": [4], "fill_value": -1}, f)
    for k in range(3):
        chunk = np.full(4, -1, dtype=">i4")
        chunk[: len(vals[4 * k:4 * k + 4])] = vals[4 * k:4 * k + 4]
        with open(os.path.join(root, "m", str(k)), "wb") as f:
            f.write(zlib.compress(chunk.tobytes()))
    got = ZarrStore.open(root).read_array("m", ranges={"dim_0": (2, 10)})
    assert got.dtype == np.dtype("int32") and got.tolist() == list(range(2, 10))


def _write_v2_single_chunk(tag: str, zarray: dict, chunk: bytes) -> str:
    import json

    root = _fresh(tag)
    os.makedirs(os.path.join(root, "v"), exist_ok=True)
    with open(os.path.join(root, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    with open(os.path.join(root, "v", ".zarray"), "w") as f:
        json.dump(zarray, f)
    with open(os.path.join(root, "v", "0"), "wb") as f:
        f.write(chunk)
    return root


def test_v2_delta_filter_read():
    """An externally-written delta-filtered v2 store (chunk bytes assembled
    by hand from the numcodecs spec: enc[0]=x[0], enc[1:]=diff) must decode
    to the original values — the filter passthrough the reference gets from
    TensorStore (zarr_v2.h:78)."""
    import zlib

    vals = np.array([7, 9, 4, -3, 100, 100, 101, 50, 0, 12], dtype="<i4")
    enc = np.empty_like(vals)
    enc[0] = vals[0]
    enc[1:] = np.diff(vals)
    root = _write_v2_single_chunk(
        "delta",
        {"zarr_format": 2, "shape": [10], "chunks": [10], "dtype": "<i4",
         "compressor": {"id": "zlib", "level": 1}, "fill_value": 0,
         "order": "C", "filters": [{"id": "delta", "dtype": "<i4"}]},
        zlib.compress(enc.tobytes()),
    )
    st = ZarrStore.open(root)
    assert np.array_equal(st.read_array("v"), vals)
    # spec-derived independent reader agrees on the same bytes
    from tests.spec_zarr_reader import read_zarr_array

    assert np.array_equal(read_zarr_array(root, "v"), vals)


def test_v2_fixedscaleoffset_filter_read():
    """fixedscaleoffset (numcodecs): enc = round((x-offset)*scale) stored as
    int, decode = enc/scale + offset. Values on the 0.01 grid round-trip
    exactly through scale=100."""
    vals_enc = np.array([0, 150, -275, 12345], dtype="<i4")
    want = vals_enc / 100.0 + 1000.0
    root = _write_v2_single_chunk(
        "fso",
        {"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
         "compressor": None, "fill_value": 0.0, "order": "C",
         "filters": [{"id": "fixedscaleoffset", "offset": 1000.0,
                      "scale": 100, "dtype": "<f8", "astype": "<i4"}]},
        vals_enc.tobytes(),
    )
    st = ZarrStore.open(root)
    got = st.read_array("v")
    assert got.dtype == np.dtype("<f8")
    assert np.array_equal(got, want)
    from tests.spec_zarr_reader import read_zarr_array

    assert np.array_equal(read_zarr_array(root, "v"), want)


def test_v2_filter_chain_engine_write_roundtrip():
    """The engine's OWN v2 encode path applies the declared filter chain
    (delta then compressor), persists it in .zarray, and the bytes are
    readable by a fresh open AND the independent spec reader."""
    root = _fresh("delta_rt")
    st = ZarrStore.create(root, version=2, attrs={"name": "rt"})
    meta = st.create_array(
        "v", shape=(10,), chunks=(10,), dtype="int32", dims=("i",),
        compressor={"id": "zlib", "level": 1},
        filters=[{"id": "delta", "dtype": "<i4"}],
    )
    vals = np.arange(10, dtype="<i4") * 3 - 7
    st.write_chunk(meta, (0,), vals)
    st2 = ZarrStore.open(root)
    assert st2.array_meta("v").filters == ({"id": "delta", "dtype": "<i4"},)
    assert np.array_equal(st2.read_array("v"), vals)
    from tests.spec_zarr_reader import read_zarr_array

    assert np.array_equal(read_zarr_array(root, "v"), vals)
    # refusals: unknown id, and filters on a v3 store
    with pytest.raises(ValueError, match="filter"):
        st.create_array("w", shape=(4,), chunks=(4,), dtype="int32",
                        filters=[{"id": "packbits"}])
    root3 = _fresh("delta_v3")
    st3 = ZarrStore.create(root3, version=3)
    with pytest.raises(ValueError, match="v3 uses codecs"):
        st3.create_array("v", shape=(4,), chunks=(4,), dtype="int32",
                         filters=[{"id": "delta", "dtype": "<i4"}])


def test_v2_quantize_and_shuffle_filters():
    """quantize (numcodecs lossy bit truncation — decode is view+cast) and
    shuffle (byte-lane regrouping, partial trailing element passes through)
    round-trip through encode_v2_filters/decode_v2_filters and decode in a
    real store, including a CHAINED quantize→shuffle pipeline."""
    import zlib

    from mdio_cpp_spark.sources import codecs as C

    rng = np.random.default_rng(3)
    vals = rng.normal(scale=10.0, size=64).astype("<f8")
    # quantize alone: decode(encode(x)) == x rounded to the 2^bits grid
    q = [{"id": "quantize", "digits": 3, "dtype": "<f8"}]
    enc = C.encode_v2_filters(vals.tobytes(), q)
    dec = np.frombuffer(C.decode_v2_filters(enc, q), dtype="<f8")
    assert np.allclose(dec, vals, atol=10.0 ** -3)
    assert not np.array_equal(dec, vals)  # it IS lossy
    assert np.array_equal(  # and idempotent (already on the grid)
        np.frombuffer(C.decode_v2_filters(C.encode_v2_filters(dec.tobytes(), q), q), dtype="<f8"),
        dec,
    )
    # shuffle alone: exact round-trip incl. a non-divisible tail
    raw = bytes(range(251))  # 251 % 4 == 3 -> 3-byte passthrough tail
    sh = [{"id": "shuffle", "elementsize": 4}]
    shuffled = C.encode_v2_filters(raw, sh)
    assert shuffled != raw and C.decode_v2_filters(shuffled, sh) == raw
    assert shuffled[-3:] == raw[-3:]
    # chained quantize -> shuffle inside a handcrafted store, spec-read twin
    chain = [{"id": "quantize", "digits": 3, "dtype": "<f8"},
             {"id": "shuffle", "elementsize": 8}]
    chunk = zlib.compress(C.encode_v2_filters(vals.tobytes(), chain))
    root = _write_v2_single_chunk(
        "qshuf",
        {"zarr_format": 2, "shape": [64], "chunks": [64], "dtype": "<f8",
         "compressor": {"id": "zlib", "level": 1}, "fill_value": 0.0,
         "order": "C", "filters": chain},
        chunk,
    )
    st = ZarrStore.open(root)
    got = st.read_array("v")
    assert np.array_equal(got, dec)
    from tests.spec_zarr_reader import read_zarr_array

    assert np.array_equal(read_zarr_array(root, "v"), dec)


def test_v2_unknown_filter_still_rejected():
    """Filters outside the implemented set would decode to garbage — the
    loud refusal stays for those (packbits, astype, categorize, ...)."""
    root = _write_v2_single_chunk(
        "badfilter",
        {"zarr_format": 2, "shape": [10], "chunks": [10], "dtype": "<i4",
         "compressor": None, "fill_value": 0, "order": "C",
         "filters": [{"id": "packbits", "dtype": "|b1"}]},
        b"",
    )
    with pytest.raises(NotImplementedError, match="filter"):
        ZarrStore.open(root).array_meta("v")
    # malformed known filters refuse too, before any chunk decode
    root2 = _write_v2_single_chunk(
        "badfso",
        {"zarr_format": 2, "shape": [10], "chunks": [10], "dtype": "<f8",
         "compressor": None, "fill_value": 0, "order": "C",
         "filters": [{"id": "fixedscaleoffset", "dtype": "<f8",
                      "offset": 0.0, "scale": 0}]},
        b"",
    )
    with pytest.raises(ValueError, match="scale"):
        ZarrStore.open(root2).array_meta("v")


def test_v2_big_endian_struct_fields(spark):
    """BE struct fields (seismic trace-header layout) decode via per-field
    byteswap — stored_dtype keeps the on-disk mixed order, np_dtype is the
    all-native twin, astype swaps; SelectField pruning works on top."""
    import zlib

    from mdio_cpp_spark.sources.reader import scan_array

    be = np.dtype([("a", ">i4"), ("b", ">f8"), ("c", "<i2")])
    vals = np.array([(1, 2.5, 3), (-40, 1e9, -2), (7, -0.125, 9),
                     (2**30, 0.0, 0)], dtype=be)
    root = _write_v2_single_chunk(
        "bestruct",
        {"zarr_format": 2, "shape": [4], "chunks": [4],
         "dtype": [["a", ">i4"], ["b", ">f8"], ["c", "<i2"]],
         "compressor": {"id": "zlib", "level": 1}, "fill_value": None,
         "order": "C"},
        zlib.compress(vals.tobytes()),
    )
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    assert meta.np_dtype == be.newbyteorder("=")
    assert meta.stored_dtype == be
    got = st.read_array("v")
    assert got["a"].tolist() == [1, -40, 7, 2**30]
    assert got["b"].tolist() == [2.5, 1e9, -0.125, 0.0]
    assert got["c"].tolist() == [3, -2, 9, 0]
    # a multi-chunk box: the same records in chunks of 1 (four chunks)
    with open(os.path.join(root, "v", ".zarray")) as f:
        zarray = json.load(f)
    with open(os.path.join(root, "v", ".zarray"), "w") as f:
        json.dump({**zarray, "chunks": [1]}, f)
    for k in range(4):
        with open(os.path.join(root, "v", str(k)), "wb") as f:
            f.write(zlib.compress(vals[k:k + 1].tobytes()))
    box = ZarrStore.open(root).read_array("v", ranges={"dim_0": (1, 4)})
    assert box.tolist() == got[1:4].tolist()
    pdf = scan_array(spark, root, "v", fields=["a", "c"]).orderBy("dim_0").toPandas()
    assert list(pdf["a"]) == [1, -40, 7, 2**30]
    assert list(pdf["c"]) == [3, -2, 9, 0]


def test_isel_multi_ranges():
    root = _fresh("multi")
    ds = _toy_ds(root)
    sel = ds.isel_multi(il=[(2, 6), (20, 30)])
    v = sel.var("img")
    assert v.num_samples() == (4 + 10) * 24
    full = np.arange(48 * 24, dtype="f4").reshape(48, 24)
    assert np.array_equal(v.read(), np.concatenate([full[2:6], full[20:30]]))
    with pytest.raises(ValueError, match="ascending"):
        ds.isel_multi(il=[(10, 20), (5, 8)])
    with pytest.raises(ValueError, match="ascending"):
        ds.isel_multi(il=[(0, 10), (9, 15)])  # overlap


def test_v3_big_endian_bytes_codec_decodes(tmp_path):
    """A v3 store whose 'bytes' codec declares big-endian must decode to the
    correct native-endian values (review finding: the endian config was
    silently ignored and BE bytes read as LE garbage)."""
    import json
    import zlib

    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "be.zarr")
    (tmp_path / "be.zarr" / "a" / "c").mkdir(parents=True)
    (tmp_path / "be.zarr" / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    arr = (np.arange(8) * 1.5).astype(">f8")
    (tmp_path / "be.zarr" / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [8],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0.0,
        "codecs": [{"name": "bytes", "configuration": {"endian": "big"}},
                   {"name": "zlib", "configuration": {"level": 1}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    (tmp_path / "be.zarr" / "a" / "c" / "0").write_bytes(zlib.compress(arr.tobytes(), 1))
    st = ZarrStore.open(root)
    block = st.decode_chunk(st.array_meta("a"), (0,))
    assert block.dtype.str == "<f8"
    assert np.allclose(block, np.arange(8) * 1.5)
    from tests.spec_zarr_reader import read_zarr_array

    assert np.allclose(read_zarr_array(root, "a").astype("<f8"), np.arange(8) * 1.5)


def test_v3_big_endian_struct_decodes(tmp_path):
    """v3 struct data_type under a big-endian 'bytes' codec: the per-field
    byteswap path (v2 BE-structs' mechanism — the endian applies uniformly
    to every field). Round-trips through decode AND the engine's own
    encode (write_chunk serializes back to BE on disk)."""
    import json
    import zlib

    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "bestruct3.zarr")
    (tmp_path / "bestruct3.zarr" / "a" / "c").mkdir(parents=True)
    (tmp_path / "bestruct3.zarr" / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    be = np.dtype([("ok", ">i8"), ("amp", ">f4")])
    vals = np.array([(1, 2.5), (-9, 0.25), (1 << 40, -8.0), (0, 0.0)], dtype=be)
    (tmp_path / "bestruct3.zarr" / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [4],
        "data_type": {"name": "struct", "configuration": {"fields": [
            {"name": "ok", "data_type": "int64"},
            {"name": "amp", "data_type": "float32"}]}},
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": None,
        "codecs": [{"name": "bytes", "configuration": {"endian": "big"}},
                   {"name": "zlib", "configuration": {"level": 1}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    (tmp_path / "bestruct3.zarr" / "a" / "c" / "0").write_bytes(
        zlib.compress(vals.tobytes(), 1))
    st = ZarrStore.open(root)
    meta = st.array_meta("a")
    assert meta.stored_dtype == be
    block = st.decode_chunk(meta, (0,))
    assert block["ok"].tolist() == [1, -9, 1 << 40, 0]
    assert block["amp"].tolist() == [2.5, 0.25, -8.0, 0.0]
    # engine write keeps the declared on-disk endianness
    native = block.copy()
    native["ok"] *= 2
    st.write_chunk(meta, (0,), native)
    raw = zlib.decompress(st.read_bytes(meta.chunk_key((0,))))
    assert np.array_equal(np.frombuffer(raw, dtype=be)["ok"].astype("<i8"),
                          np.array([2, -18, 1 << 41, 0]))
    from tests.spec_zarr_reader import read_zarr_array

    spec = read_zarr_array(root, "a")
    assert spec["ok"].astype("<i8").tolist() == [2, -18, 1 << 41, 0]
    assert spec["amp"].astype("<f4").tolist() == [2.5, 0.25, -8.0, 0.0]


def test_write_arrays_rejects_out_of_domain_rows(tmp_path, spark):
    """A row beyond the array extent must fail loudly (matching the DSv2
    writer) instead of writing an orphan chunk the scan never plans."""
    import pytest
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "dom.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(100,), chunks=(10,), dtype="float64", dims=("i",))
    bad = spark.range(99, 101).select(F.col("id").alias("i"), F.lit(1.0).alias("val"))
    with pytest.raises(Exception, match="outside array domain"):
        write_array(bad, root, "v", value_cols="val")


def test_v3_dot_separator_chunk_keys(tmp_path):
    """chunk_key must honor the parsed v3 separator: '.' stores keys like
    'c.0', not a c/ tree — ignoring it read every chunk as fill."""
    import json
    import zlib

    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = tmp_path / "dotsep.zarr"
    (root / "a").mkdir(parents=True)
    (root / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    arr = np.arange(6, dtype="<f8")
    (root / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [6],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [6]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "."}},
        "fill_value": -1.0,
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
                   {"name": "zlib", "configuration": {"level": 1}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    (root / "a" / "c.0").write_bytes(zlib.compress(arr.tobytes(), 1))
    st = ZarrStore.open(str(root))
    block = st.decode_chunk(st.array_meta("a"), (0,))
    assert block is not None and np.array_equal(block, arr)


def test_v2_big_endian_write_roundtrip(tmp_path):
    """Writing into an opened big-endian v2 store must serialize BE bytes
    (encode through stored_dtype) so the store stays self-consistent."""
    import json

    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = tmp_path / "bev2.zarr"
    (root / "x").mkdir(parents=True)
    (root / ".zgroup").write_text(json.dumps({"zarr_format": 2}))
    (root / "x" / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [4], "chunks": [4], "dtype": ">f4",
        "compressor": None, "fill_value": 0.0, "order": "C", "filters": None,
    }))
    (root / "x" / ".zattrs").write_text(json.dumps({"_ARRAY_DIMENSIONS": ["i"]}))
    st = ZarrStore.open(str(root))
    vals = np.array([1.0, 2.5, -3.0, 4.25], dtype="<f4")
    st.write_array_numpy("x", vals)
    # raw bytes on disk must be big-endian per the declared dtype
    raw = (root / "x" / "0").read_bytes()
    assert np.array_equal(np.frombuffer(raw, dtype=">f4"), vals.astype(">f4"))
    # and our own reader round-trips to native values
    assert np.array_equal(ZarrStore.open(str(root)).read_array("x"), vals)


def test_v3_object_data_type_clear_error(tmp_path):
    import json

    import pytest

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = tmp_path / "obj.zarr"
    (root / "a").mkdir(parents=True)
    (root / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    (root / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [2],
        "data_type": {"name": "some_extension"},
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0, "codecs": [], "dimension_names": ["i"], "attributes": {},
    }))
    with pytest.raises(NotImplementedError, match="data_type"):
        ZarrStore.open(str(root)).arrays()


def test_kvstore_rejects_unknown_url_scheme():
    import pytest

    from mdio_cpp_spark.sources.kvstore import open_kvstore

    with pytest.raises(ValueError, match="unrecognized store scheme"):
        open_kvstore("ftp://bucket/store")


def test_v3_chunk_key_encoding_schemes(tmp_path):
    """Both spec chunk-key schemes are readable: {"name": "v2"} maps to bare
    '0.1' keys (r5 implemented what ADVICE r4's guard refused). An UNKNOWN
    scheme still refuses loudly — reading it through the wrong scheme would
    silently synthesize fill for every chunk."""
    import json

    import numpy as np
    import pytest

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "cke.zarr")
    st = ZarrStore.create(root, version=3)
    st.create_array("v", shape=(10,), chunks=(5,), dtype="float64", dims=("i",))
    obj = json.loads((tmp_path / "cke.zarr" / "v" / "zarr.json").read_text())
    obj["chunk_key_encoding"] = {"name": "v2", "configuration": {"separator": "."}}
    (tmp_path / "cke.zarr" / "v" / "zarr.json").write_text(json.dumps(obj))
    st2 = ZarrStore.open(root)
    meta = st2.array_meta("v")
    assert (meta.key_encoding, meta.separator) == ("v2", ".")
    vals = np.arange(10, dtype="f8")
    st2.write_array_numpy("v", vals)
    assert (tmp_path / "cke.zarr" / "v" / "0").exists()  # bare key, no c/
    assert np.array_equal(st2.read_array("v"), vals)
    # unknown scheme: refuse loudly
    obj["chunk_key_encoding"] = {"name": "irregular"}
    (tmp_path / "cke.zarr" / "v" / "zarr.json").write_text(json.dumps(obj))
    with pytest.raises(NotImplementedError, match="chunk_key_encoding"):
        ZarrStore.open(root).array_meta("v")


def test_create_clean_clears_nonlocal_store():
    """kCreateClean must clear the old store through the kvstore seam — a
    local rmtree silently no-ops on memory:// (and gs://, s3://) and the
    re-create would merge metadata over live chunks (ADVICE r4)."""
    import numpy as np

    from mdio_cpp_spark.model import MdioDataset
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = "memory://createclean/ds"
    spec = {
        "metadata": {"name": "cc", "apiVersion": "1.0.0", "createdOn": "2023-01-01T00:00:00Z"},
        "variables": [
            {"name": "i", "dataType": "float64", "dimensions": [{"name": "i", "size": 8}]}
        ],
    }
    MdioDataset.from_json(spec, root, mode="create")
    st = ZarrStore.open(root)
    st.write_array_numpy("i", np.arange(8.0))
    assert ZarrStore.open(root).read_array("i")[3] == 3.0

    MdioDataset.from_json(spec, root, mode="create_clean")
    arr = ZarrStore.open(root).read_array("i")
    assert not np.array_equal(arr, np.arange(8.0)), "old chunks must be gone"


def test_transcode_array_codec_migration(spark, tmp_path):
    """Distributed transcode: blosc-zlib source → plain-zlib destination,
    same grid, fill-only chunks skipped, values identical, and the
    destination chunk bytes really are zlib (not blosc frames)."""
    import numpy as np
    import zlib as _zlib

    from mdio_cpp_spark.sources.zarr_store import ZarrStore
    from mdio_cpp_spark.utils.transcode import transcode_array

    src = str(tmp_path / "src.zarr")
    st = ZarrStore.create(src, version=2)
    st.create_array(
        "v", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",), fill=0.0,
        compressor={"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1},
    )
    st.consolidate()
    st.write_array_numpy("v", np.arange(700.0))  # chunks 7-9 stay fill-only

    dst = str(tmp_path / "dst.zarr")
    report = transcode_array(spark, src, dst, "v", {"id": "zlib", "level": 5})
    assert report == {"chunks_total": 10, "chunks_copied": 7}

    d = ZarrStore.open(dst)
    dm = d.array_meta("v")
    assert dm.compressor == {"id": "zlib", "level": 5}
    assert d.read_bytes(dm.chunk_key((8,))) is None  # sparsity survived
    got = d.read_array("v")
    expect = np.zeros(1000)
    expect[:700] = np.arange(700.0)
    assert np.array_equal(got, expect)
    raw = d.read_bytes(dm.chunk_key((0,)))
    assert _zlib.decompress(raw)  # plain zlib stream, not a blosc frame


def test_transcode_into_new_store_leaves_zone_map_behind(spark, tmp_path):
    """A transcoded array does not carry its source's zone-map marker into
    the new store, whose sidecar was never copied: the destination reads
    as unzoned, so a value-filtered scan, the metadata-only aggregate and a
    driver write work on it (they raised FileNotFoundError on the missing
    sidecar), and ``ensure_chunk_stats`` builds it a sidecar of its own."""
    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.utils.transcode import transcode_array

    src = str(tmp_path / "src.zarr")
    st = ZarrStore.create(src, version=2)
    st.create_array("v", shape=(64,), chunks=(8,), dtype="float64", dims=("i",),
                    attrs={"units": "m"})
    st.consolidate()
    st.write_array_numpy("v", np.arange(64.0))
    zonemap.build_sidecar_stats(spark, src, "v")

    dst = str(tmp_path / "dst.zarr")
    transcode_array(spark, src, dst, "v", {"id": "zlib", "level": 5})
    got = scan_array(spark, dst, "v", value_filter=(">=", 60.0)).collect()
    assert sorted(r["i"] for r in got) == [60, 61, 62, 63]
    dm = ZarrStore.open(dst).array_meta("v")
    assert zonemap.aggregate_from_manifest(dm, dst) is None
    ZarrStore.open(dst).write_array_numpy("v", np.full(8, 100.0), origin=(8,))
    assert not zonemap.is_zoned(dm) and dm.attrs["units"] == "m"

    zonemap.ensure_chunk_stats(spark, dst, "v")
    assert zonemap.aggregate_from_manifest(ZarrStore.open(dst).array_meta("v"), dst) \
        == (64, 0.0, 100.0)


def test_sel_distributed_translation_matches_driver(spark, tmp_path, monkeypatch):
    """Past _SEL_DRIVER_MAX the value→index translation runs as a Spark
    aggregate instead of a driver array read — results and error semantics
    must be identical (forced via a tiny threshold)."""
    root = str(tmp_path / "seld.zarr")
    spec = {
        "metadata": {"name": "seld", "apiVersion": "1.0.0"},
        "variables": [
            {"name": "i", "dataType": "int64",
             "dimensions": [{"name": "i", "size": 1000}]},
            {"name": "v", "dataType": "float64", "dimensions": ["i"],
             "coordinates": ["i"]},
        ],
    }
    ds = MdioDataset.from_json(spec, root)
    coord = np.arange(1000, dtype="i8") * 10  # values 0,10,...,9990
    coord[500] = coord[499]  # one duplicated value for the error path
    ds.store.write_array_numpy("i", coord)
    ds.store.write_array_numpy("v", np.arange(1000.0))
    ds = MdioDataset.open(root)

    driver_rng = ds.sel(i=(100, 200)).var("v").get_intervals()["i"]
    monkeypatch.setattr(MdioDataset, "_SEL_DRIVER_MAX", 10)
    ds2 = MdioDataset.open(root)
    assert ds2.sel(i=(100, 200)).var("v").get_intervals()["i"] == driver_rng == (10, 21)

    # point sel: all occurrences of the duplicated value → one 2-run? they
    # are adjacent (499,500) → a single contiguous run
    got = ds2.sel(i=int(coord[499])).var("v").get_intervals()["i"]
    assert got == (499, 501)

    # duplicate-endpoint error matches the driver path's message
    with pytest.raises(SelError, match="exactly one"):
        ds2.sel(i=(int(coord[499]), 9990))
    with pytest.raises(SelError, match="not found"):
        ds2.sel(i=5)
    # inverted range
    with pytest.raises(SelError, match="precedes"):
        ds2.sel(i=(9990, 0))


def test_masked_write_back_idempotent(spark, sf_dir):
    """zarr67's clip-update must converge: applying the masked write-back a
    second time changes nothing (the declared query applies it on every
    run, so re-execution equality IS the idempotence contract), and it
    must mutate its own private store, never the shared fixture."""
    import pandas as pd

    from mdio_cpp_spark.plans import REGISTRY

    first = REGISTRY["zarr67_where_update"].spark(spark, sf_dir).toPandas()
    second = REGISTRY["zarr67_where_update"].spark(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(first, second)
    # the shared fixture store is untouched: zarr01 still sees raw prices
    raw = REGISTRY["zarr01_scan"].spark(spark, sf_dir).toPandas()
    assert (raw["price"] > 450_000.0).any(), "fixture store must keep unclipped values"


def test_cube_rank3_chunk_box_pruning(spark, sf_dir):
    """zarr90's design claim, pinned structurally: the il/xl/t brick
    (2..6, 0..4, 4..12) over the 8x8x16 cube chunked 4x4x8 must plan
    exactly 2x1x2 = 4 of the 8 chunk boxes (t 4..11 straddles both
    t-chunks), and the constant-t slice (zarr92) must plan the 4 boxes
    containing that t-plane."""
    import os

    from mdio_cpp_spark.plans.zarr_queries import ensure_stores

    base = ensure_stores(spark, sf_dir)
    meta = ZarrStore.open(os.path.join(base, "cube_v2.zarr")).array_meta("amp")
    per_dim, n = plan_chunks(meta, {"il": (2, 6), "xl": (0, 4), "t": (4, 12)})
    assert [len(r) for r in per_dim] == [2, 1, 2] and n == 4
    per_dim, n = plan_chunks(meta, {"t": (9, 10)})
    assert [len(r) for r in per_dim] == [2, 2, 1] and n == 4
    # full-volume plan covers all 8 boxes
    assert plan_chunks(meta, None)[1] == 8


def test_bands_from_signatures_matches_minhash_bands(spark, sf_dir):
    """The d14 refactor's invariant: deriving bands from a precomputed
    signature frame is byte-identical to the fused minhash_bands path
    (the candidate sets of every LSH consumer hang off this)."""
    import pandas as pd

    from mdio_cpp_spark.catalog import table
    from mdio_cpp_spark.operators import dedup

    d = table(spark, sf_dir, "documents")
    fused = dedup.minhash_bands(d, "doc_id", "text", bands=4, rows=4)
    sig = dedup.minhash_signatures(d, "doc_id", "text", 16)
    derived = dedup.bands_from_signatures(sig, "doc_id", 4, 4)
    a = fused.orderBy("doc_id", "band").toPandas()
    b = derived.orderBy("doc_id", "band").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_spec_compressor_all_cnames_honored_natively():
    """Every blosc cname the reference accepts maps to a real blosc codec —
    no zlib fallback remains (blosclz is pure Python; lz4, snappy and zstd
    run on pyarrow's native kernels)."""
    from mdio_cpp_spark.model import _map_spec_compressor

    for cname in ("blosclz", "snappy", "zstd", "lz4", "zlib"):
        out = _map_spec_compressor(
            {"name": "blosc", "cname": cname, "clevel": 7})
        assert out == {"id": "blosc", "cname": cname, "clevel": 7,
                       "shuffle": 1}, cname


def test_multiscale_routing_cuts_planned_chunks(spark):
    """The zarr116 pyramid's routed overview must plan strictly fewer chunk
    GETs than the same query on the base level — the IO claim of the gate
    (4x fewer cells AND 4x fewer chunk objects at factor 2 here)."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    REGISTRY["zarr116_multiscale"].spark(spark, SF_DIR).collect()  # builds
    ds = MdioDataset.open(
        os.path.join("/root/repo/.zarr_cache", os.path.basename(SF_DIR), "pyramid_router.zarr"))
    base_chunks = ds.var("img").planned_chunks()
    l1_chunks = ds.var("img_l1_sum").planned_chunks()
    assert base_chunks == 8 and l1_chunks == 2, (base_chunks, l1_chunks)
    # routed answer equals the base answer exactly (integer block sums)
    import math

    base_mean = (
        ds.var("img").to_df(spark, value_col="v")
        .agg(F.avg(F.round(F.col("v") * 100).cast("long") / 100.0))
        .collect()[0][0]
    )
    routed = REGISTRY["zarr116_multiscale"].spark(spark, SF_DIR).collect()[0]
    assert routed["n_cells"] == 1024
    assert math.isclose(routed["box_mean"], base_mean, rel_tol=1e-12)


def test_grow_then_trim_roundtrip():
    """grow followed by trim back to the original size must be a perfect
    no-op on the data: grow touches no chunks, trim deletes only
    beyond-boundary chunks (there are none written), so the array reads
    back identical."""
    root = _fresh("toy7")
    _toy_ds(root)
    from mdio_cpp_spark.utils import grow_dataset, trim_dataset

    before = MdioDataset.open(root).var("img").read().copy()
    grow_dataset(root, il=96)
    trim_dataset(root, il=48)
    after = MdioDataset.open(root)
    assert after.var("img").meta.shape == (48, 24)
    assert np.array_equal(after.var("img").read(), before)


def test_v2_filtered_array_spark_write_and_scan(spark):
    """Filters through the DISTRIBUTED paths: the chunk-keyed Spark writer
    encodes through the declared delta chain, the chunk-pruned scan decodes
    it back, and the independent spec reader agrees on the bytes."""
    import pandas as pd

    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.writer import write_array

    root = _fresh("delta_spark")
    st = ZarrStore.create(root, version=2, attrs={"name": "ds"})
    st.create_array(
        "v", shape=(300,), chunks=(64,), dtype="int64", dims=("i",),
        compressor={"id": "zlib", "level": 1}, fill=0,
        filters=[{"id": "delta", "dtype": "<i8"}],
    )
    st.consolidate()
    vals = [int(x) for x in range(300)]
    df = spark.createDataFrame(pd.DataFrame({"i": vals, "v": [x * 11 - 7 for x in vals]}))
    write_array(df, root, "v", value_cols="v")
    got = scan_array(spark, root, "v", ranges={"i": (50, 250)}).orderBy("i").toPandas()
    assert list(got["value"]) == [x * 11 - 7 for x in range(50, 250)]
    from tests.spec_zarr_reader import read_zarr_array

    full = read_zarr_array(root, "v")
    assert list(full) == [x * 11 - 7 for x in range(300)]


def test_v2_filtered_store_zonemap_and_dsv2(spark):
    """The two seams a filtered store must compose with: (a) zone-map stats
    are computed from DECODED values (filters applied), so value-filtered
    scans prune correctly over a delta store; (b) the format('mdio') DSv2
    source reads the same store through its own partition reader."""
    import pandas as pd

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.writer import write_array

    root = _fresh("delta_zone")
    st = ZarrStore.create(root, version=2, attrs={"name": "dz"})
    st.create_array(
        "v", shape=(256,), chunks=(32,), dtype="int64", dims=("i",),
        compressor={"id": "zlib", "level": 1}, fill=0,
        filters=[{"id": "delta", "dtype": "<i8"}],
    )
    st.consolidate()
    # chunk k holds values centered at 1000*k: the zone maps separate cleanly
    vals = [1000 * (x // 32) + (x % 32) for x in range(256)]
    df = spark.createDataFrame(pd.DataFrame({"i": range(256), "v": vals}))
    write_array(df, root, "v", value_cols="v")
    zonemap.ensure_chunk_stats(spark, root, "v")
    # value filter that only chunk 7 can satisfy: zone pruning must both
    # keep correctness AND reflect the decoded (unfiltered-domain) values
    got = scan_array(spark, root, "v", value_filter=(">=", 7000)).orderBy("i").toPandas()
    assert list(got["i"]) == list(range(224, 256))
    assert list(got["value"]) == vals[224:]
    # DSv2 source over the same filtered store
    register(spark)
    dsv2 = (
        spark.read.format("mdio").option("path", root).option("variable", "v")
        .load().filter("i >= 100 AND i < 140").orderBy("i").toPandas()
    )
    assert list(dsv2["value"]) == vals[100:140]


def test_shuffle_numcodecs_differential():
    """Differential against numcodecs.Shuffle itself (ADVICE r9): encode
    equality and decode-of-their-bytes for divisible buffers, plus the
    indivisible remainder (len % elementsize != 0) where our rule is
    c-blosc's copy-through. Skipped where the wheel is absent — the
    divisible case is separately pinned by the handcrafted-store fixtures
    (engine encoder never touches those bytes)."""
    numcodecs = pytest.importorskip("numcodecs")
    from mdio_cpp_spark.sources.codecs import _byte_shuffle

    rng = np.random.default_rng(7)
    for es in (2, 4, 8):
        for extra in (0, 1, es - 1):
            buf = rng.integers(0, 256, size=5 * es + extra, dtype="u1").tobytes()
            theirs = bytes(numcodecs.Shuffle(es).encode(np.frombuffer(buf, "u1")))
            ours = _byte_shuffle(buf, es, forward=True)
            if extra == 0:
                assert ours == theirs, (es, extra)
            else:
                # lane body must agree regardless of remainder policy
                n = len(buf) // es * es
                assert ours[:n] == theirs[:n], (es, extra)
            # and our decoder must invert our own encoder bit-for-bit
            assert _byte_shuffle(ours, es, forward=False) == buf
            # their decoder accepts our bytes on the shared (divisible) body
            if extra == 0:
                back = bytes(numcodecs.Shuffle(es).decode(np.frombuffer(ours, "u1")))
                assert back == buf


# ------------------------------------------------- v3 consolidated metadata

def test_v3_consolidated_metadata_o1_open():
    """v3 consolidated metadata (zarr-python 3's inline layout in the root
    zarr.json): open + arrays() of an N-variable store must issue O(1)
    metadata requests — no LIST, no per-array GET (the 10k-variable
    object-store wall; reference walk: zarr_v3.h:539-625). Also pins
    coherence: create_array / attr updates / resize republish the block,
    and a reader that does not know the key still walks correctly."""
    from mdio_cpp_spark.sources import kvstore as zs

    root = _fresh("cons_v3")
    st = ZarrStore.create(root, version=3, attrs={"name": "cons"})
    for k in range(6):
        st.create_array(f"a{k}", shape=(40,), chunks=(16,), dtype="float32",
                        dims=("i",))
    st.write_array_numpy("a0", np.arange(40, dtype="f4"))
    st.consolidate()

    raw = json.loads(open(os.path.join(root, "zarr.json")).read())
    cm = raw["consolidated_metadata"]
    assert cm["kind"] == "inline" and cm["must_understand"] is False
    assert set(cm["metadata"]) == {f"a{k}" for k in range(6)}

    calls = {"read": [], "list": 0, "exists": []}
    orig_read, orig_list = zs.LocalKVStore.read, zs.LocalKVStore.list_dir

    def spy_read(self, key):
        calls["read"].append(key)
        return orig_read(self, key)

    def spy_list(self, prefix=""):
        calls["list"] += 1
        return orig_list(self, prefix)

    zs.LocalKVStore.read, zs.LocalKVStore.list_dir = spy_read, spy_list
    try:
        st2 = ZarrStore.open(root)
        metas = st2.arrays()
    finally:
        zs.LocalKVStore.read, zs.LocalKVStore.list_dir = orig_read, orig_list
    assert set(metas) == {f"a{k}" for k in range(6)}
    assert calls["list"] == 0, "consolidated open must not LIST"
    assert all(k == "zarr.json" for k in calls["read"]), calls["read"]
    assert len(calls["read"]) <= 3  # root-only GETs, independent of N

    # consolidated answers == walk answers (strip the block, rewalk)
    raw2 = dict(raw)
    raw2.pop("consolidated_metadata")
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(raw2, f)
    walk = ZarrStore.open(root).arrays()
    assert set(walk) == set(metas)
    for k in metas:
        assert metas[k].shape == walk[k].shape
        assert metas[k].chunks == walk[k].chunks
        assert metas[k].np_dtype == walk[k].np_dtype

    # coherence: once published, create_array / attr update / grow refresh it
    st3 = ZarrStore.open(root)
    st3.consolidate()
    st3.create_array("late", shape=(8,), chunks=(8,), dtype="int32", dims=("j",))
    assert "late" in ZarrStore.open(root)._consolidated_v3()
    st3.patch_array_attrs("a1", {"unitsV1": "m"})
    assert ZarrStore.open(root).array_meta("a1").attrs.get("unitsV1") == "m"
    from mdio_cpp_spark.utils.trim import grow_dataset

    grow_dataset(root, i=56)
    st4 = ZarrStore.open(root)
    assert st4.array_meta("a0").shape == (56,)
    assert json.loads(open(os.path.join(root, "zarr.json")).read())[
        "consolidated_metadata"]["metadata"]["a0"]["shape"] == [56]
    # data reads through the consolidated meta stay exact
    got = st4.read_array("a0")
    assert np.array_equal(got[:40], np.arange(40, dtype="f4"))


def test_v2_quantize_shuffle_chain_external_bytes():
    """quantize→shuffle→zlib chunk bytes assembled BY HAND from the
    numcodecs spec (the quantize power-of-two grid and the byte-lane
    transpose are both re-derived inline — engine encode code never touches
    these bytes), then decoded by the engine AND the independent spec
    reader. Closes the external-fixture gap for chained v2 filters
    (VERDICT r9 #6): the prior chain test built its store through our own
    encode_v2_filters."""
    import math
    import zlib

    rng = np.random.default_rng(11)
    vals = rng.normal(scale=25.0, size=96).astype("<f8")
    # numcodecs.Quantize, re-derived from its published formula:
    digits = 3
    exp = math.log10(10.0 ** -digits)
    exp = int(math.floor(exp)) if exp < 0 else int(math.ceil(exp))
    scale = 2.0 ** math.ceil(math.log(10.0 ** -exp, 2))
    quantized = (np.around(scale * vals) / scale).astype("<f8")
    # numcodecs.Shuffle: byte-lane transpose, elementsize=8 (divides 96*8)
    lanes = np.frombuffer(quantized.tobytes(), dtype="u1").reshape(-1, 8)
    shuffled = lanes.T.tobytes(order="C")
    chunk = zlib.compress(shuffled, 1)
    root = _write_v2_single_chunk(
        "qshuf_ext",
        {"zarr_format": 2, "shape": [96], "chunks": [96], "dtype": "<f8",
         "compressor": {"id": "zlib", "level": 1}, "fill_value": 0.0,
         "order": "C",
         "filters": [{"id": "quantize", "digits": 3, "dtype": "<f8"},
                     {"id": "shuffle", "elementsize": 8}]},
        chunk,
    )
    st = ZarrStore.open(root)
    got = st.read_array("v")
    assert np.array_equal(got, quantized)
    assert np.allclose(got, vals, atol=10.0 ** -3)
    from tests.spec_zarr_reader import read_zarr_array

    assert np.array_equal(read_zarr_array(root, "v"), quantized)
