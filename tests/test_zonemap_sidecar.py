"""Sidecar zone map: chunk [min,max] stats in a private store next to the
array. It must (a) build with NO per-chunk driver collect, (b) keep
working at grid sizes where only executor-side pruning runs, and (c) stay
write-coherent through every writer path. Pruning proofs use corrupted
chunk bytes: if a pruned chunk were ever read, the scan would throw."""

from __future__ import annotations

import numpy as np
import pytest

from mdio_cpp_spark.sources import zonemap
from mdio_cpp_spark.sources.reader import scan_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore


def _mk_store(tmp_path, n=1000, chunk=100):
    root = str(tmp_path / "zm.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(n,), chunks=(chunk,), dtype="float64", dims=("i",))
    st.consolidate()
    vals = np.arange(n, dtype=np.float64)
    st.write_array_numpy("v", vals[: n - chunk])  # last chunk fill-only
    return root, vals


def test_sidecar_scan_equals_plain_scan(spark, tmp_path):
    root, _ = _mk_store(tmp_path)
    expect = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    zonemap.build_sidecar_stats(spark, root, "v")
    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    assert got == expect == list(range(750, 900))


def test_sidecar_actually_prunes(spark, tmp_path):
    """Corrupt the bytes of every chunk the zones say is incompatible: a
    scan that still decodes them would throw, so a clean pass IS the proof
    that the GET/decode never happened."""
    root, _ = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    for k in range(7):  # zones [0,99]..[699,699+] all fail >= 750
        st.write_bytes(meta.chunk_key((k,)), b"\x01garbage")
    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    assert got == list(range(750, 900))
    # sanity: the corruption is real — an unpruned scan must fail
    with pytest.raises(Exception):
        scan_array(spark, root, "v").collect()


def test_sidecar_prunes_past_attr_cap_executor_side(spark, tmp_path):
    """>262,144 chunks (the cap of the old attribute manifest): the sidecar
    must build distributed and prune EXECUTOR-side (the grid is beyond
    MAX_DRIVER_ENUM, so the driver never enumerates chunk ids). Corrupted
    incompatible chunks again prove the skip."""
    n_chunks = 300_000  # > 262,144 and > MAX_DRIVER_ENUM
    chunk = 2
    root = str(tmp_path / "big.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array(
        "v", shape=(n_chunks * chunk,), chunks=(chunk,), dtype="float64",
        dims=("i",), fill=0.0,
    )
    st.consolidate()
    # a handful of real chunks scattered across the grid; everything else is
    # fill-only (fill=0.0 → pruned by > 50)
    hot = [0, 123_456, 299_999]
    for k in hot:
        st.write_array_numpy("v", np.array([100.0 + k, 200.0 + k]), origin=(k * chunk,))
    cold = [7, 70_000, 250_000]
    for k in cold:
        st.write_array_numpy("v", np.array([1.0, 2.0]), origin=(k * chunk,))

    info = zonemap.build_sidecar_stats(spark, root, "v")
    assert info["nchunks"] == n_chunks
    assert n_chunks > zonemap.MAX_DRIVER_ENUM  # forces the executor tier

    # corrupt every incompatible written chunk: if executor-side pruning
    # failed, the decode would throw
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    for k in cold:
        st.write_bytes(meta.chunk_key((k,)), b"\x00bad")

    rows = scan_array(spark, root, "v", value_filter=(">", 50.0)).collect()
    got = sorted((r["i"], r["value"]) for r in rows)
    expect = sorted(
        [(k * chunk, 100.0 + k) for k in hot] + [(k * chunk + 1, 200.0 + k) for k in hot]
    )
    assert got == expect


def test_sidecar_write_coherence_spark_writer(spark, tmp_path):
    """write_arrays into a sidecar-manifested variable must fold the touched
    chunks' new zones back in via the distributed sidecar RMW — a later
    pruned scan sees the new values."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.writer import write_array

    root, _ = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")

    upd = spark.range(200, 300).select(
        F.col("id").alias("i"), (F.col("id") + 100000.0).alias("value")
    )
    report = write_array(upd, root, "v")
    assert report["chunks_written"] == 1 and report["cells_written"] == 100

    meta = ZarrStore.open(root).array_meta("v")
    sz = zonemap.SidecarZones(ZarrStore.open(root).root, "v", zonemap.sidecar_info(meta))
    assert sz.lookup_linear(2) == (True, [100200.0, 100299.0])
    assert sz.lookup_linear(0) == (True, [0.0, 99.0])  # untouched zone kept

    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 100000.0)).collect()
    )
    assert got == list(range(200, 300))


def test_sidecar_write_coherence_driver_writer(spark, tmp_path):
    """write_array_numpy (driver-side) must RMW the sidecar too — a
    formerly fill-only chunk that gains real data can't be mis-pruned."""
    root, _ = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")
    st = ZarrStore.open(root)
    st.write_array_numpy("v", np.full(100, 7.5), origin=(900,))

    meta = ZarrStore.open(root).array_meta("v")
    sz = zonemap.SidecarZones(st.root, "v", zonemap.sidecar_info(meta))
    assert sz.lookup_linear(9) == (True, [7.5, 7.5])
    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=("==", 7.5)).collect()
    )
    assert got == list(range(900, 1000))


def test_sidecar_write_coherence_dsv2_writer(spark, tmp_path):
    """The DSv2 .write.format('mdio') path folds zones through its commit."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.datasource import register, repartition_by_chunks

    register(spark)
    root, _ = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")
    upd = spark.range(500, 600).select(
        F.col("id").alias("i"), (F.col("id") + 50000.0).alias("value")
    )
    (
        repartition_by_chunks(upd, root, "v")
        .write.format("mdio").option("path", root).option("variable", "v")
        .mode("append").save()
    )

    meta = ZarrStore.open(root).array_meta("v")
    sz = zonemap.SidecarZones(ZarrStore.open(root).root, "v", zonemap.sidecar_info(meta))
    assert sz.lookup_linear(5) == (True, [50500.0, 50599.0])
    got = sorted(
        r["i"]
        for r in scan_array(spark, root, "v", value_filter=(">=", 50000.0)).collect()
    )
    assert got == list(range(500, 600))


def test_sidecar_aggregate_from_manifest(spark, tmp_path):
    root, _ = _mk_store(tmp_path)  # last chunk fill-only
    zonemap.build_sidecar_stats(spark, root, "v")
    meta = ZarrStore.open(root).array_meta("v")
    assert zonemap.aggregate_from_manifest(meta, root) is None  # fill-only chunk

    ZarrStore.open(root).write_array_numpy("v", np.arange(900.0, 1000.0), origin=(900,))
    meta = ZarrStore.open(root).array_meta("v")
    assert zonemap.aggregate_from_manifest(meta, root) == (1000, 0.0, 999.0)


def test_sidecar_invalidated_by_grid_change(spark, tmp_path):
    """A trim that changes the chunk grid scrambles linear ids — the marker
    must read as invalid and the scan must fall back to unpruned (correct)
    results."""
    from mdio_cpp_spark.utils.trim import trim_dataset

    root, _ = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")
    trim_dataset(root, i=750)  # grid 10 → 8: marker grid mismatch

    meta = ZarrStore.open(root).array_meta("v")
    assert zonemap.sidecar_info(meta) is None
    assert zonemap.aggregate_from_manifest(meta, root) is None
    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=(">=", 500.0)).collect()
    )
    assert got == list(range(500, 750))


def test_sidecar_survives_fresh_unwritten_chunks_unknown(spark, tmp_path):
    """Sidecar chunks that were never written read as UNKNOWN → never
    prune. Simulated by deleting a sidecar stats chunk outright."""
    root, _ = _mk_store(tmp_path)
    info = zonemap.build_sidecar_stats(spark, root, "v")
    sroot = zonemap._sidecar_root(ZarrStore.open(root).root, "v")
    side = ZarrStore.open(sroot)
    mmin = side.array_meta("vmin")
    side._kv.delete(mmin.chunk_key((0,)))
    sz = zonemap.SidecarZones(ZarrStore.open(root).root, "v", info)
    assert sz.lookup_linear(3) == (False, None)  # unknown, never prunes
    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=(">=", 750.0)).collect()
    )
    assert got == list(range(750, 900))


def test_grow_within_chunk_invalidates_boundary_zone(spark, tmp_path):
    """A grow that stays inside the partial boundary chunk does not change
    the grid, so the sidecar marker stays valid — but the new cells decode
    as fill, so the boundary chunk's stale-narrow zone must be invalidated
    or a `== fill` scan would wrongly prune the fresh rows."""
    from mdio_cpp_spark.utils.resize import grow_dataset

    root = str(tmp_path / "grow.zarr")
    st = ZarrStore.create(root, version=2)
    # shape 250, chunk 100 → chunk 2 is half-valid; fill = 0.0
    st.create_array("v", shape=(250,), chunks=(100,), dtype="float64",
                    dims=("i",), fill=0.0)
    st.consolidate()
    st.write_array_numpy("v", np.arange(1000.0, 1250.0))  # no zeros anywhere
    zonemap.build_sidecar_stats(spark, root, "v")

    grow_dataset(root, i=290)  # still chunk 2: grid unchanged (3 chunks)
    meta = ZarrStore.open(root).array_meta("v")
    assert meta.shape == (290,) and meta.nchunks() == 3

    got = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=("==", 0.0)).collect()
    )
    assert got == list(range(250, 290)), "new fill cells must not be pruned away"
    # untouched chunks keep pruning: corrupt chunk 0 ([1000,1099]) and re-scan
    st = ZarrStore.open(root)
    st.write_bytes(meta.chunk_key((0,)), b"\x00bad")
    got2 = sorted(
        r["i"] for r in scan_array(spark, root, "v", value_filter=("==", 0.0)).collect()
    )
    assert got2 == list(range(250, 290))


def test_pruning_report_driver_and_distributed(spark, tmp_path, monkeypatch):
    """pruning_report must count kept/pruned chunks identically through the
    driver-enumeration tier and the distributed judge pass."""
    root, _ = _mk_store(tmp_path)  # 10 chunks: zones [0..99]..[800,899], last fill-only
    zonemap.build_sidecar_stats(spark, root, "v")
    rep = zonemap.pruning_report(root, "v", (">=", 750.0))
    assert rep == {"planned": 10, "kept": 2, "pruned": 8, "source": "sidecar"}
    # forced distributed pass gives the same counts
    monkeypatch.setattr(zonemap, "MAX_DRIVER_ENUM", 4)
    rep2 = zonemap.pruning_report(root, "v", (">=", 750.0), spark=spark)
    assert rep2 == rep
    import pytest as _pt

    with _pt.raises(ValueError, match="SparkSession"):
        zonemap.pruning_report(root, "v", (">=", 750.0))
    monkeypatch.undo()
    # box + value filter: the report, scan_array and format("mdio") plan
    # and keep the same chunks (one planner, one keeper) and agree on rows
    import pickle
    import re

    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.reader import plan_chunks

    box, vf = {"i": (250, 950)}, (">=", 650.0)
    rep_box = zonemap.pruning_report(root, "v", vf, ranges=box)
    assert rep_box == {"planned": 8, "kept": 3, "pruned": 5, "source": "sidecar"}
    sa = scan_array(spark, root, "v", ranges=box, value_filter=vf)
    sa_plan = sa._jdf.queryExecution().optimizedPlan().toString()
    sa_kept = int(re.search(r"Range \(0, (\d+),", sa_plan).group(1))
    sa_planned = plan_chunks(ZarrStore.open(root).array_meta("v"), box)[1]
    register(spark)
    ds = (spark.read.format("mdio").option("path", root).option("variable", "v")
          .load().filter("i >= 250 AND i < 950 AND value >= 650.0"))
    ds_rows = sorted(ds.collect())
    ds_planned = ds_kept = 0
    todo = [ds._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        while True:  # unwrap adaptive plans and their query stages
            kind = node.getClass().getSimpleName()
            if kind == "AdaptiveSparkPlanExec":
                node = node.executedPlan()
            elif kind.endswith("QueryStageExec"):
                node = node.plan()
            else:
                break
        if node.getClass().getSimpleName() == "BatchScanExec":
            parts = node.inputPartitions().iterator()
            while parts.hasNext():
                p = pickle.loads(bytes(parts.next().pickedPartition()))
                ds_planned = int(np.prod(p.grid_lens))
                ds_kept += len(p.ids) if p.ids is not None else p.end - p.start
        kids = node.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    assert (sa_planned, sa_kept) == (ds_planned, ds_kept) == (8, 3)
    assert sorted(sa.collect()) == ds_rows
    assert [r["i"] for r in ds_rows] == list(range(650, 900))
    # no stats → nothing prunable
    root2, _ = _mk_store(tmp_path / "nostats")
    rep3 = zonemap.pruning_report(root2, "v", (">=", 750.0))
    assert rep3 == {"planned": 10, "kept": 10, "pruned": 0, "source": None}


class _CountingKV:
    """Wraps a KVStore; records full-object reads vs ranged reads."""

    def __init__(self, inner):
        self.inner = inner
        self.full_reads = []
        self.range_reads = []

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def read(self, key):
        self.full_reads.append(key)
        return self.inner.read(key)

    def read_range(self, key, start, length):
        self.range_reads.append((key, start, length))
        return self.inner.read_range(key, start, length)


def _mk_sharded(tmp_path, spark, fill=0.0, n=8000, written=5000):
    """v3 sharded lz4 store: shards of 2000 rows / 250-row inner chunks;
    rows [0, written) populated, the tail pure fill (absent objects /
    MISSING inner entries)."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.writer import write_array

    root = str(tmp_path / "shz.zarr")
    st = ZarrStore.create(root, version=3)
    st.create_array("v", shape=(n,), chunks=(250,), shards=(2000,),
                    dtype="float64", dims=("i",), fill=fill,
                    compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                                "shuffle": 1})
    df = spark.range(written).select(F.col("id").alias("i"),
                                     (F.col("id") * 2.0 + 1.0).alias("val"))
    write_array(df, root, "v", value_cols="val")
    return root


def test_sidecar_decode_pass_partial_reads_on_sharded_store(spark, tmp_path):
    """The sidecar builder's per-chunk decode (_chunk_zone) stats-scans a
    SHARDED store through
    partial shard reads — one ranged index GET + one ranged GET per
    PRESENT inner chunk, ZERO whole-object reads — mirroring
    test_sharded_lz4_dsv2_pushdown_fetches_only_touched_ranges for the
    build path. Task memory never holds a whole shard."""
    root = _mk_sharded(tmp_path, spark)
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    ckv = _CountingKV(st._kv)
    st._kv = ckv

    # shard 2 (rows 4000..6000): inner chunks 0..3 present, 4..7 MISSING
    z = zonemap._chunk_zone(st, meta, (2,))
    # values rows [4000, 5000): 2i+1 in [8001, 9999]; missing cells = fill 0.0
    assert z == [0.0, 9999.0]
    assert ckv.full_reads == []  # NEVER the whole shard object
    key = meta.chunk_key((2,))
    suffix = [r for r in ckv.range_reads if r[0] == key and r[1] < 0]
    inner = [r for r in ckv.range_reads if r[0] == key and r[1] >= 0]
    assert len(suffix) == 1 and suffix[0][2] == 8 * 16 + 4  # ONE index GET
    assert len(inner) == 4  # exactly the four PRESENT inner chunks

    # absent shard object: one index probe, nothing else, fill-only result
    ckv.range_reads.clear()
    assert zonemap._chunk_zone(st, meta, (3,)) is None
    assert ckv.full_reads == [] and len(ckv.range_reads) == 1


def test_chunk_zone_streamed_equals_whole_block(spark, tmp_path):
    """The streamed shard zone must equal zoning the fully-decoded shard
    block — including fill contribution from MISSING inner cells, edge
    shards clipped to the array shape, and NaN fills excluded."""
    from mdio_cpp_spark.sources.zarr_store import zone_of

    for fill in (0.0, -5.5, float("nan")):
        root = _mk_sharded(tmp_path / f"f{fill}", spark, fill=fill,
                           n=7300, written=4600)  # edge shard clipped
        st = ZarrStore.open(root)
        meta = st.array_meta("v")
        for c in range(meta.nchunks()):
            got = zonemap._chunk_zone(st, meta, (c,))
            block = st.decode_chunk(meta, (c,))
            if block is None:
                assert got is None, (fill, c)
                continue
            valid = (slice(0, min(2000, 7300 - c * 2000)),)
            assert got == zone_of(block[valid]), (fill, c)


def test_sidecar_build_end_to_end_on_sharded_store(spark, tmp_path):
    """build_sidecar_stats over a sharded store: manifest rows match the
    whole-block zones, and the published sidecar actually prunes a
    pushed value filter down to the right shard objects."""
    root = _mk_sharded(tmp_path, spark)
    info = zonemap.build_sidecar_stats(spark, root, "v")
    assert info["nchunks"] == 4  # the SHARD grid is the zone grid
    got = sorted(
        r["i"] for r in
        scan_array(spark, root, "v", value_filter=(">=", 9000.0)).collect()
    )
    assert got == list(range(4500, 5000))  # rows with 2i+1 >= 9000
    rep = zonemap.pruning_report(root, "v", (">=", 9000.0))
    assert rep == {"planned": 4, "kept": 1, "pruned": 3, "source": "sidecar"}


def test_zone_pruned_scan_array_plans_no_exchange(spark, tmp_path):
    """Driver-tier survivors ride the scan's task closure: the plan is the
    same spark.range → mapInPandas as an unpruned scan, with no exchange."""
    root, _ = _mk_store(tmp_path)
    zonemap.build_sidecar_stats(spark, root, "v")
    df = scan_array(spark, root, "v", value_filter=(">=", 750.0))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Range (0, 2," in plan
    assert sorted(r["i"] for r in df.collect()) == list(range(750, 900))
