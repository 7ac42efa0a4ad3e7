"""Zone-map pruning: per-chunk [min,max] sidecar stats must (a) never change
a scan's result and (b) actually prune incompatible chunks, including edge
chunks (valid-extent stats) and fill-only chunks."""

from __future__ import annotations

import os

import numpy as np

from mdio_cpp_spark.sources import zonemap
from mdio_cpp_spark.sources.reader import scan_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore


def _zones(root: str) -> list:
    """Every chunk's (known, zone) from the variable's sidecar."""
    meta = ZarrStore.open(root).array_meta("v")
    side = zonemap.open_zones(meta, root)
    return [side.lookup_linear(k) for k in range(meta.nchunks())]


def _mk_store(tmp_path, n=1000, chunk=100):
    root = str(tmp_path / "zm.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(n,), chunks=(chunk,), dtype="float64", dims=("i",))
    st.consolidate()
    # ascending values → each chunk's zone is [100*k, 100*k+99]; leave the
    # last chunk unwritten (fill-only, fill=0.0 default)
    vals = np.arange(n, dtype=np.float64)
    st.write_array_numpy("v", vals[: n - chunk])
    return root, vals


def test_stats_match_chunks(spark, tmp_path):
    root, vals = _mk_store(tmp_path)
    info = zonemap.build_sidecar_stats(spark, root, "v")
    assert info == {"grid": [10], "chunk": zonemap.SIDECAR_CHUNK, "nchunks": 10}
    zones = _zones(root)
    assert zones[:9] == [(True, [100.0 * k, 100.0 * k + 99.0]) for k in range(9)]
    assert zones[9] == (True, None)  # fill-only


def test_edge_chunk_stats_exclude_padding(spark, tmp_path):
    root = str(tmp_path / "edge.zarr")
    st = ZarrStore.create(root, version=2)
    # shape 250, chunk 100 → last chunk half-valid; padding would carry 0s
    st.create_array("v", shape=(250,), chunks=(100,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("v", np.arange(1000.0, 1250.0))
    zonemap.build_sidecar_stats(spark, root, "v")
    assert _zones(root)[2] == (True, [1200.0, 1249.0])  # not 0.0 from padding


def test_zonemap_scan_equals_plain_scan(spark, tmp_path):
    """``ensure_chunk_stats`` builds the sidecar once: a second call returns
    the same marker and writes nothing; the pruned scan equals the plain
    one."""
    root, vals = _mk_store(tmp_path)
    expect = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    info = zonemap.ensure_chunk_stats(spark, root, "v")
    side = os.path.join(root, ".zonemap", "v")
    listing = {f: os.stat(os.path.join(d, f)).st_mtime_ns
               for d, _, fs in os.walk(side) for f in fs}
    assert zonemap.ensure_chunk_stats(spark, root, "v") == info
    assert {f: os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(side) for f in fs} == listing
    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    assert got == expect == list(range(750, 900))


def test_chunk_compatible_prunes():
    stats = {str(k): [100.0 * k, 100.0 * k + 99.0] for k in range(9)}
    stats["9"] = None  # fill-only, fill = 0.0
    keep = [
        k for k in range(10)
        if zonemap.chunk_compatible(stats[str(k)], ">=", 750.0, 0.0)
    ]
    assert keep == [7, 8]  # 7 partially, 8 fully; fill-only chunk pruned too
    keep_eq = [
        k for k in range(10)
        if zonemap.chunk_compatible(stats[str(k)], "==", 0.0, 0.0)
    ]
    assert keep_eq == [0, 9]  # value 0 lives in chunk 0; fill chunk matches


def test_fill_chunk_survives_when_fill_matches(spark, tmp_path):
    root = str(tmp_path / "fill.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array(
        "v", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",), fill=0.0
    )
    st.consolidate()
    st.write_array_numpy("v", np.arange(900, dtype=np.float64))
    zonemap.build_sidecar_stats(spark, root, "v")
    # corrupt chunks 1..8: a '<= 0' scan must prune them without a read
    meta = ZarrStore.open(root).array_meta("v")
    for k in range(1, 9):
        st.write_bytes(meta.chunk_key((k,)), b"\x00bad")
    # fill is 0.0; '<= 0' must keep the fill-only chunk AND chunk 0
    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=("<=", 0.0)).collect()
    )
    assert got == [0] + list(range(900, 1000))


def test_write_updates_manifest(spark, tmp_path):
    """A fused Spark write of two zoned variables folds each one's touched
    chunks into its own sidecar in the same pass — a later pruned scan of
    either sees the new values (no stale-stats wrong pruning)."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.writer import write_arrays

    root, vals = _mk_store(tmp_path)
    st = ZarrStore.open(root)
    st.create_array("w", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("w", -vals)
    for var in ("v", "w"):
        zonemap.build_sidecar_stats(spark, root, var)

    # overwrite chunk 2 (i in [200,300)) of both with huge values
    upd = spark.range(200, 300).select(
        F.col("id").alias("i"), (F.col("id") + 100000.0).alias("a"),
        (F.col("id") - 100000.0).alias("b"))
    report = write_arrays(upd, root, {"v": "a", "w": "b"})
    assert report == {"chunks_written": 2, "cells_written": 200}

    meta = ZarrStore.open(root).array_meta
    v_zones = zonemap.open_zones(meta("v"), root)
    w_zones = zonemap.open_zones(meta("w"), root)
    assert v_zones.lookup_linear(2) == (True, [100200.0, 100299.0])
    assert w_zones.lookup_linear(2) == (True, [-99800.0, -99701.0])
    assert v_zones.lookup_linear(0) == (True, [0.0, 99.0])  # untouched zones kept
    assert w_zones.lookup_linear(0) == (True, [-99.0, 0.0])

    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 100000.0)).collect()
    )
    assert got == list(range(200, 300))
    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "w", value_filter=("<=", -99000.0)).collect()
    )
    assert got == list(range(200, 300))


def test_driver_side_write_updates_manifest(spark, tmp_path):
    """write_array_numpy (the driver-side writer) must also refresh the
    sidecar — a fill-only chunk that gets real data can no longer be
    evaluated as fill by a pruned scan."""
    root, vals = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")
    assert _zones(root)[9] == (True, None)  # fill-only

    # write real data into the previously-fill chunk, driver-side
    ZarrStore.open(root).write_array_numpy("v", np.full(100, 7.5), origin=(900,))

    assert _zones(root)[9] == (True, [7.5, 7.5])
    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=("==", 7.5)).collect()
    )
    assert got == list(range(900, 1000))


def test_aggregate_from_manifest(spark, tmp_path):
    """Sidecar-only aggregate: exact on fully-written arrays, None (fall
    back to scan) once a chunk's zone is UNKNOWN — here after a grow inside
    the boundary chunk."""
    from mdio_cpp_spark.utils.resize import grow_dataset

    root = str(tmp_path / "agg.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(950,), chunks=(100,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("v", np.arange(950.0))
    zonemap.build_sidecar_stats(spark, root, "v")
    meta = ZarrStore.open(root).array_meta("v")
    assert zonemap.aggregate_from_manifest(meta, root) == (950, 0.0, 949.0)

    grow_dataset(root, i=990)  # same grid: chunk 9 becomes UNKNOWN
    meta = ZarrStore.open(root).array_meta("v")
    assert zonemap.sidecar_info(meta) is not None
    assert zonemap.aggregate_from_manifest(meta, root) is None


def test_legacy_attribute_manifest_reads_as_unzoned(spark, tmp_path):
    """A store that still carries an old ``mdio:chunk_stats`` attribute
    manifest is unzoned: a scan prunes nothing by it (a chunk the old
    manifest would prune is read and its rows returned), a write leaves it
    alone, and ``ensure_chunk_stats`` builds a sidecar."""
    root, vals = _mk_store(tmp_path)
    st = ZarrStore.open(root)
    stale = {str(k): [-2.0, -1.0] for k in range(10)}  # would prune every chunk
    st.update_array_attrs("v", {**st.array_meta("v").attrs, "mdio:chunk_stats": stale})
    meta = ZarrStore.open(root).array_meta("v")
    assert not zonemap.is_zoned(meta) and zonemap.open_zones(meta, root) is None
    assert zonemap.aggregate_from_manifest(meta, root) is None

    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    assert got == list(range(750, 900))
    ZarrStore.open(root).write_array_numpy("v", np.full(10, 5.0))
    assert ZarrStore.open(root).array_meta("v").attrs["mdio:chunk_stats"] == stale

    info = zonemap.ensure_chunk_stats(spark, root, "v")
    assert info["nchunks"] == 10 and _zones(root)[0] == (True, [5.0, 99.0])


def test_trim_leaves_zone_maps_conservative(spark, tmp_path):
    """Shrinking an array (TrimDataset) can leave stale-WIDE zones for the
    new edge chunk — that is safe (less pruning, never wrong pruning): the
    scan must still return exactly the surviving matching cells."""
    from mdio_cpp_spark.utils.trim import trim_dataset

    root = str(tmp_path / "trim.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("v", np.arange(1000.0))
    zonemap.build_sidecar_stats(spark, root, "v")

    trim_dataset(root, i=950)  # chunk 9 becomes half-valid; zone stays [900,999]
    meta = ZarrStore.open(root).array_meta("v")
    assert zonemap.sidecar_info(meta) is not None  # same grid: marker valid
    assert _zones(root)[9] == (True, [900.0, 999.0])

    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 920.0)).collect()
    )
    assert got == list(range(920, 950))  # 950+ gone, zone over-width harmless
    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 960.0)).collect()
    )
    assert got == []  # the stale-wide zone keeps chunk 9; its rows are gone


def test_zone_of_is_nan_aware_and_json_safe():
    import math

    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import zone_of

    # NaN padding (the default float fill) must not poison the zone
    assert zone_of(np.array([1.0, np.nan, 3.0])) == [1.0, 3.0]
    # all-NaN / empty extents -> None (fill-only semantics downstream)
    assert zone_of(np.array([np.nan, np.nan])) is None
    assert zone_of(np.array([], dtype="f8")) is None
    # infinities clamp to the finite range so allow_nan=False JSON survives
    z = zone_of(np.array([1.0, np.inf, -np.inf]))
    assert all(math.isfinite(x) for x in z) and z[0] < z[1]
    # ints untouched
    assert zone_of(np.array([5, -2], dtype="i8")) == [-2.0, 5.0]


def test_zonemap_rejects_string_arrays(tmp_path, spark):
    import numpy as np
    import pytest

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "s.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("s", shape=(4,), chunks=(2,), dtype=np.dtype("<U4"), dims=("i",))
    st.consolidate()
    with pytest.raises(ValueError, match="numeric/bool"):
        zonemap.build_sidecar_stats(spark, root, "s")
    assert not os.path.exists(os.path.join(root, ".zonemap"))


def test_chunk_compatible_soundness_guards():
    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import zone_of
    from mdio_cpp_spark.sources.zonemap import chunk_compatible

    # float '!=' never prunes: the zone masks NaN cells that satisfy any !=
    assert chunk_compatible([5.0, 5.0], "!=", 5.0, 0.0, float_kind=True)
    assert not chunk_compatible([5.0, 5.0], "!=", 5.0, 0.0, float_kind=False)
    # infinite / boundary literals never prune (zones clamp inf for JSON)
    assert chunk_compatible([1.0, 1.0], ">=", float("inf"), 0.0)
    assert chunk_compatible([1.0, 1.0], "==", float("-inf"), 0.0)
    # int zones above 2^53 widen OUTWARD so exact matches are never excluded
    v = np.array([9007199254740995] * 3, dtype="i8")  # 2^53 + 3
    lo, hi = zone_of(v)
    assert lo <= 9007199254740995 <= hi
    assert chunk_compatible([lo, hi], "==", 9007199254740995, 0)


def test_zone_map_layout_stays_in_one_module():
    """Only ``sources/zonemap.py`` knows how the zone map is stored: no
    other package file names its marker attribute or sidecar directory;
    they go through ``is_zoned``, ``fold_zones``, ``without_zones`` and the
    other helpers of that module."""
    from pathlib import Path

    home = Path(zonemap.__file__)
    package = home.parents[1]
    names = ("SIDECAR_ATTR", "mdio:zonemap_sidecar", "SIDECAR_DIR")
    offenders = [
        f"{path.relative_to(package.parent)}:{n}"
        for path in sorted(package.rglob("*.py")) if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(name in line for name in names)
    ]
    assert offenders == []
