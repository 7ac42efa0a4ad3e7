"""One chunk-write core: the driver writer (``write_array_numpy``), the Spark
writer (``write_arrays``) and the DSv2 writer (``format("mdio")``) all
rewrite a chunk through ``ZarrStore.rewrite_chunk`` and fold zone stats
through ``zonemap.fold_zones``. So the same cells written through any of
them leave the same chunk bytes and the same zones, and none of them
republishes metadata."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from mdio_cpp_spark.sources import zonemap
from mdio_cpp_spark.sources.datasource import register, repartition_by_chunks
from mdio_cpp_spark.sources.kvstore import LocalKVStore
from mdio_cpp_spark.sources.writer import write_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore, zone_of
from tests.spec_zarr_reader import read_zarr_array

WRITERS = ("driver", "write_arrays", "dsv2")
SHAPE, CHUNKS = (10, 14), (4, 6)  # 3 x 3 grid, edge chunks partial


def _store(root: str, order: str = "C", data_rows: int = SHAPE[0]) -> np.ndarray:
    """A v2 float64 array ``v`` over dims (a, b), rows [0, data_rows)
    written and the rest left as absent (fill) chunks; returns the mirror."""
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=SHAPE, chunks=CHUNKS, dtype="float64", dims=("a", "b"),
                    fill=0.0, compressor={"id": "zlib", "level": 1})
    if order != "C":
        zarray = st._read_json("v/.zarray")
        zarray["order"] = order
        st._write_json("v/.zarray", zarray)
    st.consolidate()
    assert st.array_meta("v").order == order
    mirror = np.zeros(SHAPE)
    mirror[:data_rows] = np.arange(data_rows * SHAPE[1], dtype="f8").reshape(data_rows, -1) + 1
    st.write_array_numpy("v", mirror[:data_rows])
    return mirror


def _write(spark, writer: str, root: str, origin: tuple[int, int], block: np.ndarray) -> None:
    """Write ``block`` at ``origin`` through one of the three writers."""
    if writer == "driver":
        ZarrStore.open(root).write_array_numpy("v", block, origin)
        return
    rows = [(origin[0] + i, origin[1] + j, float(block[i, j]))
            for i in range(block.shape[0]) for j in range(block.shape[1])]
    df = spark.createDataFrame(rows, "a long, b long, value double")
    if writer == "write_arrays":
        write_array(df, root, "v")
    else:
        register(spark)
        (repartition_by_chunks(df, root, "v").write.format("mdio")
         .option("path", root).option("variable", "v").mode("append").save())


def _chunk_objects(root: str) -> dict[str, bytes]:
    d = os.path.join(root, "v")
    out = {}
    for name in sorted(os.listdir(d)):
        if not name.startswith("."):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = f.read()
    return out


@pytest.mark.parametrize("writer", WRITERS)
def test_partial_write_into_f_order_chunk(spark, tmp_path, writer):
    """A partial write into an existing chunk of an ``"order": "F"`` array
    keeps the chunk's other cells where they were. The Spark writers used
    to flatten the stored block in F order, scatter C-order offsets into
    it and reshape it back in C order, which moved the other cells."""
    root = str(tmp_path / f"f_{writer}.zarr")
    mirror = _store(root, order="F")
    origin, block = (1, 2), np.full((2, 3), -7.5)  # inside chunk (0, 0)
    block[1, 2] = -8.5
    _write(spark, writer, root, origin, block)
    mirror[1:3, 2:5] = block
    assert np.array_equal(ZarrStore.open(root).read_array("v"), mirror)
    assert np.array_equal(read_zarr_array(root, "v"), mirror)  # spec reader


def test_dsv2_rejects_a_row_outside_the_domain(spark, tmp_path):
    """A row past the array's shape raises and writes nothing, as in
    ``write_arrays``. The DSv2 writer used to fold it into the chunk
    grid's linear id, so row (1, 18) of the 10 x 14 array landed in cell
    (5, 0)."""
    root = str(tmp_path / "dom.zarr")
    mirror = _store(root)
    with pytest.raises(Exception, match="row outside array domain"):
        _write(spark, "dsv2", root, (1, 18), np.full((1, 1), 42.0))
    assert np.array_equal(ZarrStore.open(root).read_array("v"), mirror)


def _zones(root: str) -> dict:
    """The variable's sidecar zones, keyed by chunk coordinates."""
    meta = ZarrStore.open(root).array_meta("v")
    side = zonemap.open_zones(meta, root)
    return {tuple(int(c) for c in np.unravel_index(k, meta.grid_shape())): side.lookup_linear(k)
            for k in range(meta.nchunks())}


@pytest.mark.parametrize("form", ["sidecar", "unzoned"])
def test_three_writers_leave_identical_chunks_and_zones(spark, tmp_path, form):
    """The same cells written through the three writers into three
    identical stores leave byte-identical chunk objects and, with a zone
    map, identical zones. The write covers partial chunks, edge chunks and
    the three chunks of a chunk row that was absent before it."""
    rng = np.random.default_rng(7)
    origin = (2, 3)
    block = rng.standard_normal((8, 11))  # rows 2..9, cols 3..13
    results = {}
    for writer in WRITERS:
        root = str(tmp_path / f"{form}_{writer}.zarr")
        mirror = _store(root, data_rows=6)  # chunk row 2 absent
        if form == "sidecar":
            zonemap.build_sidecar_stats(spark, root, "v")
        _write(spark, writer, root, origin, block)
        mirror[2:, 3:] = block
        assert np.array_equal(ZarrStore.open(root).read_array("v"), mirror), writer
        results[writer] = (_chunk_objects(root), _zones(root) if form == "sidecar" else {})

    chunks, zones = results["driver"]
    assert len(chunks) == 9  # the write created the three absent chunks
    for writer in WRITERS[1:]:
        assert results[writer][0] == chunks, writer
        assert results[writer][1] == zones, writer
    assert len(zones) == (9 if form == "sidecar" else 0)
    for (i, j), z in zones.items():
        assert z == (True, zone_of(mirror[4 * i: 4 * i + 4, 6 * j: 6 * j + 6])), (i, j)


def test_driver_patch_writes_chunk_and_sidecar_only(spark, tmp_path, monkeypatch):
    """A driver patch write to a zoned array writes the chunk and the
    sidecar chunks it folds into, and no metadata; without a zone map it
    writes the chunk alone."""
    root = str(tmp_path / "publish.zarr")
    _store(root)
    zonemap.build_sidecar_stats(spark, root, "v")
    writes: list[str] = []
    write = LocalKVStore.write

    def counted(self, key, data):
        writes.append(os.path.relpath(self._path(key), root))
        return write(self, key, data)

    monkeypatch.setattr(LocalKVStore, "write", counted)
    st = ZarrStore.open(root)
    st.write_array_numpy("v", np.full((2, 2), 99.0), origin=(1, 1))  # chunk (0, 0)
    assert sorted(writes) == [".zonemap/v/vmax/0", ".zonemap/v/vmin/0", "v/0.0"]
    assert _zones(root)[0, 0] == (True, [1.0, 99.0])

    st.update_array_attrs("v", {})  # without a zone map
    writes.clear()
    st.write_array_numpy("v", np.full((2, 2), 5.0), origin=(1, 1))
    assert writes == ["v/0.0"]


def _generation(root: str) -> int:
    with open(os.path.join(root, ".zmetadata")) as f:
        return json.load(f)["generation"]


@pytest.mark.parametrize("writer", WRITERS)
def test_writers_publish_metadata_only_when_it_changed(spark, tmp_path, writer):
    """A write changes no metadata, so it leaves the consolidated document
    as it was (the Spark writers used to republish it after every write,
    with a full LIST and GET walk), also when it folds zones into a
    sidecar."""
    root = str(tmp_path / f"gen_{writer}.zarr")
    mirror = _store(root)
    block = np.full((2, 3), -3.0)
    gen = _generation(root)
    _write(spark, writer, root, (1, 2), block)
    assert _generation(root) == gen

    zonemap.build_sidecar_stats(spark, root, "v")
    gen = _generation(root)
    with open(os.path.join(root, "v", ".zattrs")) as f:
        attrs = f.read()
    _write(spark, writer, root, (5, 7), block)
    assert _generation(root) == gen
    with open(os.path.join(root, "v", ".zattrs")) as f:
        assert f.read() == attrs
    mirror[1:3, 2:5] = mirror[5:7, 7:10] = block
    assert _zones(root)[1, 1] == (True, zone_of(mirror[4:8, 6:12]))
    assert np.array_equal(ZarrStore.open(root).read_array("v"), mirror)


def test_fold_zones_unknown_marks_sidecar(spark, tmp_path):
    """``fold_zones`` takes zones keyed by linear chunk id: ``"unknown"``
    stores the never-prune sentinel, None a fill-only chunk, a pair its
    zone; a store without a zone map takes nothing."""
    side, plain = (str(tmp_path / f"{n}.zarr") for n in ("side", "plain"))
    for root in (side, plain):
        _store(root)
    zonemap.build_sidecar_stats(spark, side, "v")
    before = _zones(side)
    fold = {"v": {1: "unknown", 4: None, 8: [1.0, 2.0]}}  # chunks (0,1) (1,1) (2,2)

    assert zonemap.fold_zones(ZarrStore.open(side), fold) is None
    zones = _zones(side)
    assert zones[0, 1] == (False, None)
    assert zones[1, 1] == (True, None) and zones[2, 2] == (True, [1.0, 2.0])
    assert {k: z for k, z in zones.items() if k not in ((0, 1), (1, 1), (2, 2))} == \
        {k: z for k, z in before.items() if k not in ((0, 1), (1, 1), (2, 2))}

    zonemap.fold_zones(ZarrStore.open(plain), fold)
    assert not zonemap.is_zoned(ZarrStore.open(plain).array_meta("v"))
    assert not os.path.exists(os.path.join(plain, ".zonemap"))
