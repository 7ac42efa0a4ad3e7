"""grow_dataset (resize-grow, the inverse of IO8 trim) and rechunk_array
(layout migration) tests. Both operations must preserve every stored value
bit-exactly; growth must expose fill, never garbage, in the new region —
including the tail of a straddled boundary chunk."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from mdio_cpp_spark.sources.reader import scan_array
from mdio_cpp_spark.sources.writer import write_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.utils.rechunk import rechunk_array
from mdio_cpp_spark.utils.resize import grow_dataset

TMP = "/root/repo/.zarr_cache/_tests"


def _fresh(name: str) -> str:
    path = os.path.join(TMP, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _make_1d(path: str, n: int = 25, chunk: int = 10) -> ZarrStore:
    st = ZarrStore.create(path, version=2)
    st.create_array("v", shape=(n,), chunks=(chunk,), dtype="float64", dims=("i",))
    st.write_array_numpy("v", np.arange(n, dtype="float64"))
    return st


def test_grow_exposes_fill_and_keeps_data():
    path = _fresh("grow1")
    _make_1d(path, n=25, chunk=10)  # boundary chunk [20,30) holds 5 live cells
    grow_dataset(path, i=37)
    got = ZarrStore.open(path).read_array("v")
    assert got.shape == (37,)
    np.testing.assert_array_equal(got[:25], np.arange(25, dtype="float64"))
    # grown region: boundary-chunk tail AND wholly-absent chunk both read fill
    assert np.isnan(got[25:]).all()


def test_grow_rejects_shrink_and_unknown_dims_are_ignored():
    path = _fresh("grow2")
    _make_1d(path)
    with pytest.raises(ValueError, match="cannot shrink"):
        grow_dataset(path, i=10)
    report = grow_dataset(path, other_dim=99)  # no array carries it
    assert report == {}


def test_grow_then_write_roundtrip(spark):
    path = _fresh("grow3")
    _make_1d(path, n=25, chunk=10)
    grow_dataset(path, i=40)
    rows = spark.range(25, 40).selectExpr("id AS i", "CAST(id * 2 AS DOUBLE) AS v")
    write_array(rows, path, "v", value_cols="v")
    got = ZarrStore.open(path).read_array("v")
    np.testing.assert_array_equal(got[:25], np.arange(25, dtype="float64"))
    np.testing.assert_array_equal(got[25:], np.arange(25, 40, dtype="float64") * 2)


def test_rechunk_preserves_values_and_fill(spark):
    src = _fresh("rck_src")
    st = ZarrStore.create(src, version=2)
    st.create_array("v", shape=(50,), chunks=(16,), dtype="float64", dims=("i",))
    # leave [32, 48) unwritten -> that chunk stays absent, reads fill
    st.write_array_numpy("v", np.arange(32, dtype="float64"))
    st.write_array_numpy("v", np.full(2, 7.5), origin=(48,))
    dst = _fresh("rck_dst")
    report = rechunk_array(spark, src, "v", dst, (7,))
    meta = ZarrStore.open(dst).array_meta("v")
    assert meta.chunks == (7,) and meta.shape == (50,)
    got = ZarrStore.open(dst).read_array("v")
    np.testing.assert_array_equal(got[:32], np.arange(32, dtype="float64"))
    assert np.isnan(got[32:48]).all()
    np.testing.assert_array_equal(got[48:], np.full(2, 7.5))
    assert report["cells_written"] > 0


def test_rechunk_struct_and_2d(spark):
    src = _fresh("rck2_src")
    st = ZarrStore.create(src, version=2)
    st.create_array("hdr", shape=(12,), chunks=(5,),
                    dtype={"fields": [{"name": "a", "format": "int32"},
                                      {"name": "b", "format": "int64"}]},
                    dims=("i",))
    arr = np.zeros(12, dtype=[("a", "<i4"), ("b", "<i8")])
    arr["a"] = np.arange(12)
    arr["b"] = np.arange(12) * 10
    st.write_array_numpy("hdr", arr)
    dst = _fresh("rck2_dst")
    rechunk_array(spark, src, "hdr", dst, (4,))
    got = ZarrStore.open(dst).read_array("hdr")
    np.testing.assert_array_equal(got["a"], arr["a"])
    np.testing.assert_array_equal(got["b"], arr["b"])

    src2 = _fresh("rck3_src")
    st2 = ZarrStore.create(src2, version=2)
    st2.create_array("g", shape=(9, 8), chunks=(4, 4), dtype="int64", dims=("r", "c"))
    grid = np.arange(72, dtype="int64").reshape(9, 8)
    st2.write_array_numpy("g", grid)
    dst2 = _fresh("rck3_dst")
    rechunk_array(spark, src2, "g", dst2, (3, 5))
    np.testing.assert_array_equal(ZarrStore.open(dst2).read_array("g"), grid)


def test_rechunk_scan_prunes_on_new_grid(spark):
    src = _fresh("rck4_src")
    _make_1d(src, n=100, chunk=10)
    dst = _fresh("rck4_dst")
    rechunk_array(spark, src, "v", dst, (30,))
    from mdio_cpp_spark.sources.reader import plan_chunks

    meta = ZarrStore.open(dst).array_meta("v")
    _, n_chunks = plan_chunks(meta, {"i": (0, 30)})
    assert n_chunks == 1  # pruned on the NEW grid, not the old one
    df = scan_array(spark, dst, "v", ranges={"i": (25, 35)})
    got = sorted(r["value"] for r in df.collect())
    assert got == [float(x) for x in range(25, 35)]


def test_rechunk_same_grid_shape_leaves_zone_map_behind(spark):
    """Rechunking (64,) from 8-cell to 9-cell chunks keeps an 8-chunk grid,
    so a copied zone-map marker would still validate against it while the
    sidecar stays with the source: the write job raised FileNotFoundError.
    The destination is created unzoned and scans correctly."""
    from mdio_cpp_spark.sources import zonemap

    src = _fresh("rck5_src")
    st = _make_1d(src, n=64, chunk=8)
    st.consolidate()
    zonemap.build_sidecar_stats(spark, src, "v")
    dst = _fresh("rck5_dst")
    report = rechunk_array(spark, src, "v", dst, (9,))
    assert report == {"chunks_written": 8, "cells_written": 64}
    meta = ZarrStore.open(dst).array_meta("v")
    assert meta.grid_shape() == (8,) and not zonemap.is_zoned(meta)
    np.testing.assert_array_equal(ZarrStore.open(dst).read_array("v"), np.arange(64.0))
    got = scan_array(spark, dst, "v", value_filter=(">=", 60.0)).collect()
    assert sorted(r["i"] for r in got) == [60, 61, 62, 63]
