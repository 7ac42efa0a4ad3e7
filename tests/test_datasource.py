"""Python Data Source (format('mdio')) tests: registration, filter pushdown
→ chunk pruning, struct field selection, unconsumed-filter handoff."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, GreaterThanOrEqual, LessThan

from mdio_cpp_spark.sources.datasource import MdioDataSource, register
from mdio_cpp_spark.sources.zarr_store import ZarrStore

ROOT = "/root/repo/.zarr_cache/_tests/ds"


@pytest.fixture(scope="module")
def store():
    shutil.rmtree(ROOT, ignore_errors=True)
    st = ZarrStore.create(ROOT, version=2)
    st.create_array("v", shape=(5000,), chunks=(500,), dtype="float64", dims=("i",))
    st.write_array_numpy("v", np.arange(5000, dtype="f8"))
    st.create_array("h", shape=(100,), chunks=(50,), dtype={"fields": [
        {"name": "a", "format": "int32"}, {"name": "b", "format": "int64"}]}, dims=("i",))
    rec = np.zeros(100, dtype=[("a", "<i4"), ("b", "<i8")])
    rec["a"] = np.arange(100)
    rec["b"] = np.arange(100) * 7
    st.write_array_numpy("h", rec)
    st.consolidate()
    return ROOT


def test_read_with_pushdown(spark, store):
    register(spark)
    df = spark.read.format("mdio").option("path", store).option("variable", "v").load()
    got = df.filter("i >= 1200 AND i < 1800 AND value % 2 = 0").orderBy("i").collect()
    assert [r["i"] for r in got] == list(range(1200, 1800, 2))


def _planned_chunks(reader):
    return sum(p.end - p.start for p in reader.partitions())


def test_pushdown_prunes_partitions(store):
    src = MdioDataSource({"path": store, "variable": "v"})
    r = src.reader(src.schema())
    assert _planned_chunks(r) == 10
    rest = list(r.pushFilters([
        GreaterThanOrEqual(("i",), 1200), LessThan(("i",), 1800),
        GreaterThan(("value",), 3.0),  # consumed: decoder-exact value filter
    ]))
    assert rest == []
    assert r._value_filters == [(">", 3.0)]
    assert _planned_chunks(r) == 2  # chunks 2 and 3
    # equality → single chunk
    r2 = src.reader(src.schema())
    list(r2.pushFilters([EqualTo(("i",), 4999)]))
    assert _planned_chunks(r2) == 1
    # petascale guard: partition COUNT is bounded even for huge chunk grids
    assert len(r2.partitions()) <= 4096


def test_split_cap_scales_with_cluster(spark):
    # synthetic 1M-chunk grid: the split cap must scale with the cluster's
    # parallelism (64×cores), never a constant, and the RANGE partitions must
    # cover every chunk exactly once
    from mdio_cpp_spark.sources.datasource import MdioReader
    from mdio_cpp_spark.sources.zarr_store import ZarrArrayMeta

    meta = ZarrArrayMeta(
        name="big", shape=(32_000, 32_000), chunks=(32, 32),
        np_dtype=np.dtype("f4"), mdio_type="float32", fill=np.float32("nan"),
        zarr_version=2, dims=("il", "xl"),
    )

    class _FakeStore:
        root, version = "/nonexistent", 2

    r = MdioReader(_FakeStore(), meta, {})
    parts = r.partitions()
    n_chunks = 1000 * 1000
    par = spark.sparkContext.defaultParallelism
    assert len(parts) <= 64 * par
    assert sum(p.end - p.start for p in parts) == n_chunks
    assert parts[0].start == 0 and parts[-1].end == n_chunks
    for a, b in zip(parts, parts[1:]):
        assert a.end == b.start


def test_struct_field_option(spark, store):
    register(spark)
    df = (
        spark.read.format("mdio")
        .option("path", store).option("variable", "h").option("fields", "b")
        .load()
    )
    assert df.columns == ["i", "b"]
    got = df.filter("i < 5").orderBy("i").collect()
    assert [r["b"] for r in got] == [0, 7, 14, 21, 28]


def test_missing_options(spark):
    register(spark)
    with pytest.raises(Exception, match="path"):
        spark.read.format("mdio").load().collect()


def test_datasource_write_roundtrip(spark, tmp_path):
    """df.write.format('mdio'): chunk-partitioned frame → RMW chunk writes →
    readback equals input; fill preserved where unwritten."""
    import numpy as np
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.datasource import register, repartition_by_chunks
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = str(tmp_path / "dsw.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(1000,), chunks=(128,), dtype="float64", dims=("i",), fill=0.0)
    st.consolidate()

    df = spark.range(100, 900).select(F.col("id").alias("i"), (F.col("id") * 3.0).alias("value"))
    (
        repartition_by_chunks(df, root, "v")
        .write.format("mdio").option("path", root).option("variable", "v")
        .mode("append").save()
    )
    arr = ZarrStore.open(root).read_array("v")
    expect = np.zeros(1000)
    expect[100:900] = np.arange(100, 900) * 3.0
    assert np.array_equal(arr, expect)


def test_datasource_write_updates_manifest(spark, tmp_path):
    """DSv2 writes fold fresh zones into the sidecar at commit, and
    republish no metadata."""
    import numpy as np
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.datasource import register, repartition_by_chunks
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = str(tmp_path / "dswz.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(400,), chunks=(100,), dtype="float64", dims=("i",), fill=0.0)
    st.consolidate()
    st.write_array_numpy("v", np.arange(400.0))
    zonemap.build_sidecar_stats(spark, root, "v")
    with open(f"{root}/.zmetadata") as f:
        published = f.read()

    df = spark.range(200, 300).select(F.col("id").alias("i"), F.lit(99999.0).alias("value"))
    (
        repartition_by_chunks(df, root, "v")
        .write.format("mdio").option("path", root).option("variable", "v")
        .mode("append").save()
    )
    zones = zonemap.open_zones(ZarrStore.open(root).array_meta("v"), root)
    assert zones.lookup_linear(2) == (True, [99999.0, 99999.0])
    assert zones.lookup_linear(0) == (True, [0.0, 99.0])
    with open(f"{root}/.zmetadata") as f:
        assert f.read() == published


def test_datasource_stream_write(spark, tmp_path):
    """writeStream.format('mdio'): micro-batches land through the DSv2
    streaming sink; result equals one batch write of the same rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    src_dir = str(tmp_path / "src")
    for part in range(4):
        (
            spark.range(part * 100, (part + 1) * 100)
            .select(F.col("id").alias("i"), (F.col("id") * 2.0).alias("value"))
            .coalesce(1)
            .write.mode("append").parquet(src_dir)
        )
    root = str(tmp_path / "stream.zarr")
    st = ZarrStore.create(root, version=2)
    # chunk=150 straddles micro-batch boundaries → cross-batch RMW
    st.create_array("v", shape=(400,), chunks=(150,), dtype="float64", dims=("i",), fill=0.0)
    st.consolidate()

    stream = (
        spark.readStream.schema("i long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .repartition(F.expr("i div 150"))  # chunk-partition within each batch
    )
    q = (
        stream.writeStream.format("mdio")
        .option("path", root).option("variable", "v")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert np.array_equal(ZarrStore.open(root).read_array("v"), np.arange(400) * 2.0)


def test_datasource_write_rejects_unpartitioned_input(spark, tmp_path):
    """The commit protocol must reject a frame where one chunk's rows span
    tasks (single-writer-per-chunk is the correctness contract)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import PythonException

    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = str(tmp_path / "bad.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",), fill=0.0)
    st.consolidate()
    # round-robin repartition: chunk rows deliberately scattered across tasks
    df = (
        spark.range(1000)
        .select(F.col("id").alias("i"), (F.col("id") * 1.0).alias("value"))
        .repartition(8)
    )
    with pytest.raises(Exception, match="written by multiple tasks|multiple tasks"):
        (
            df.write.format("mdio").option("path", root).option("variable", "v")
            .mode("append").save()
        )


# ---------------------------------------------------- value-filter pushdown


def _vf_store(tmp_path, name, vals, chunk=100, fill=0.0):
    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / f"{name}.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(len(vals),), chunks=(chunk,), dtype="float64",
                    dims=("i",), fill=fill)
    st.consolidate()
    st.write_array_numpy("v", np.asarray(vals, dtype=np.float64))
    return root


def test_dsv2_value_filter_pushdown_exact(spark, tmp_path):
    """value-column comparisons are CONSUMED by pushFilters and evaluated
    in the decoder — results must match Spark evaluating the same predicate
    on the unfiltered scan."""
    from mdio_cpp_spark.sources.datasource import register

    register(spark)
    root = _vf_store(tmp_path, "vfp", list(range(1000)))
    df = (
        spark.read.format("mdio").option("path", root).option("variable", "v")
        .load()
    )
    got = sorted(r["i"] for r in df.filter("value >= 750.0").collect())
    assert got == list(range(750, 1000))
    got2 = sorted(
        r["i"] for r in df.filter("value >= 750.0 AND value < 800.0").collect()
    )
    assert got2 == list(range(750, 800))
    # combined with dim pushdown
    got3 = sorted(
        r["i"] for r in df.filter("i < 900 AND value > 850.0").collect()
    )
    assert got3 == list(range(851, 900))


def test_dsv2_value_filter_zone_pruning(spark, tmp_path):
    """With zone stats published, a pushed value predicate must skip
    incompatible chunks BEFORE the byte read — corrupted pruned chunks
    prove the GET never happened."""
    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = _vf_store(tmp_path, "vfz", list(range(1000)))
    zonemap.build_sidecar_stats(spark, root, "v")
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    for k in range(7):  # zones [0,99]..[600,699]: incompatible with >= 750
        st.write_bytes(meta.chunk_key((k,)), b"\x00corrupt")
    df = (
        spark.read.format("mdio").option("path", root).option("variable", "v")
        .load().filter("value >= 750.0")
    )
    assert sorted(r["i"] for r in df.collect()) == list(range(750, 1000))


def test_dsv2_value_filter_matches_unpushed_evaluation_with_nan(spark, tmp_path):
    """NaN cells surface as SQL NULL at the Arrow boundary (engine-wide
    convention), and NULL satisfies no comparison. A CONSUMED predicate must
    therefore agree exactly with Spark evaluating the same predicate
    residually on the scan output — `value + 0.0 > lit` cannot be pushed
    (not a bare attribute comparison), so it IS that residual ground truth."""
    from mdio_cpp_spark.sources.datasource import register

    register(spark)
    vals = [1.0, float("nan"), 5.0, float("nan"), 9.0, 3.0]
    root = _vf_store(tmp_path, "vfn", vals, chunk=2)
    df = (
        spark.read.format("mdio").option("path", root).option("variable", "v")
        .load()
    )
    cases = [
        ("value > 4.0", "value + 0.0 > 4.0"),
        ("value >= 5.0", "value + 0.0 >= 5.0"),
        ("value < 4.0", "value + 0.0 < 4.0"),
        ("value <= 3.0", "value + 0.0 <= 3.0"),
        ("value = 5.0", "value + 0.0 = 5.0"),
    ]
    for pushed, residual in cases:
        got = sorted(r["i"] for r in df.filter(pushed).collect())
        want = sorted(r["i"] for r in df.filter(residual).collect())
        assert got == want, f"{pushed}: {got} != {want}"
    # and the NaN rows are NULL (dropped by any comparison) — the convention
    assert sorted(r["i"] for r in df.filter("value IS NULL").collect()) == [1, 3]
    assert sorted(r["i"] for r in df.filter("value > 4.0").collect()) == [2, 4]


def test_dsv2_in_and_null_pushdown(spark, tmp_path):
    """IN on dims (scattered-index chunk pruning), IN on the value column,
    and IS [NOT] NULL (NaN-as-NULL convention) are all consumed and must
    agree with residual (unpushable) forms of the same predicates."""
    from mdio_cpp_spark.sources.datasource import register

    register(spark)
    vals = [float(x) for x in range(20)]
    vals[7] = float("nan")
    vals[13] = float("nan")
    root = _vf_store(tmp_path, "inn", vals, chunk=4)
    df = (
        spark.read.format("mdio").option("path", root).option("variable", "v")
        .load()
    )
    # dim IN: scattered indices across chunks 0, 2, 4
    got = sorted(r["i"] for r in df.filter("i IN (1, 9, 18, 99)").collect())
    assert got == [1, 9, 18]
    # value IN (7.0 is NaN → NULL → never IN)
    got = sorted(r["i"] for r in df.filter("value IN (5.0, 7.0, 18.0)").collect())
    want = sorted(r["i"] for r in df.filter("value + 0.0 IN (5.0, 7.0, 18.0)").collect())
    assert got == want == [5, 18]
    # IS NULL / IS NOT NULL (NaN cells surface as NULL)
    assert sorted(r["i"] for r in df.filter("value IS NULL").collect()) == [7, 13]
    got_nn = sorted(r["i"] for r in df.filter("value IS NOT NULL").collect())
    assert got_nn == [i for i in range(20) if i not in (7, 13)]
    # combined dim IN + value comparison
    got = sorted(
        r["i"] for r in df.filter("i IN (2, 3, 11, 16) AND value >= 3.0").collect()
    )
    assert got == [3, 11, 16]


def test_dsv2_dim_in_prunes_chunks(spark, tmp_path):
    """The dim IN list must prune the chunk plan to member chunks only —
    corrupting every non-member chunk proves it."""
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = _vf_store(tmp_path, "indp", [float(x) for x in range(1000)], chunk=100)
    st = ZarrStore.open(root)
    meta = st.array_meta("v")
    for k in range(10):
        if k not in (1, 7):  # members live in chunks 1 and 7 only
            st.write_bytes(meta.chunk_key((k,)), b"\x00bad")
    df = (
        spark.read.format("mdio").option("path", root).option("variable", "v")
        .load().filter("i IN (150, 199, 750)")
    )
    assert sorted((r["i"], r["value"]) for r in df.collect()) == [
        (150, 150.0), (199, 199.0), (750, 750.0)
    ]


def test_dsv2_multivariable_fused_read(spark, tmp_path):
    """option('variables', 'a,b,h.f'): one fused scan emits wide aligned
    rows with NO join in the plan; dim pushdown still prunes chunks."""
    import numpy as np
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = str(tmp_path / "multi.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("a", shape=(1000,), chunks=(100,), dtype="float64", dims=("i",))
    st.create_array("b", shape=(1000,), chunks=(100,), dtype="int64", dims=("i",))
    st.create_array("h", shape=(1000,), chunks=(100,), dtype={"fields": [
        {"name": "f", "format": "int32"}]}, dims=("i",))
    st.consolidate()
    st.write_array_numpy("a", np.arange(1000.0))
    st.write_array_numpy("b", np.arange(1000, dtype="i8") * 2)
    rec = np.zeros(1000, dtype=[("f", "<i4")])
    rec["f"] = np.arange(1000) * 3
    st.write_array_numpy("h", rec)

    df = (
        spark.read.format("mdio")
        .option("path", root).option("variables", "a,b,h.f")
        .load()
    )
    assert df.columns == ["i", "a", "b", "f"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    got = df.filter("i >= 250 AND i < 253").orderBy("i").collect()
    assert [(r["i"], r["a"], r["b"], r["f"]) for r in got] == [
        (250, 250.0, 500, 750), (251, 251.0, 502, 753), (252, 252.0, 504, 756)
    ]
    # dim IN through the fused reader
    got = sorted(r["b"] for r in df.filter("i IN (1, 500, 999)").collect())
    assert got == [2, 1000, 1998]
    # mismatched grids must refuse
    st.create_array("bad", shape=(1000,), chunks=(64,), dtype="float64", dims=("i",))
    st.consolidate()
    import pytest as _pytest

    with _pytest.raises(Exception, match="share one grid"):
        (
            spark.read.format("mdio")
            .option("path", root).option("variables", "a,bad").load().collect()
        )


def test_scan_arrays_fused_equals_join(spark, tmp_path):
    """Engine-level fused aligned scan equals the join route cell-for-cell,
    including fill synthesis for absent chunks."""
    import numpy as np
    from mdio_cpp_spark.model import MdioDataset
    from mdio_cpp_spark.sources.reader import scan_arrays
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "fuse.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("x", shape=(500,), chunks=(128,), dtype="float64", dims=("i",), fill=0.0)
    st.create_array("y", shape=(500,), chunks=(128,), dtype="float64", dims=("i",), fill=-1.0)
    st.consolidate()
    st.write_array_numpy("x", np.arange(300.0))  # y stays entirely fill
    fused = scan_arrays(spark, root, {"x": "x", "y": "y"}, ranges={"i": (100, 400)})
    rows = sorted((r["i"], r["x"], r["y"]) for r in fused.collect())
    assert rows[0] == (100, 100.0, -1.0) and rows[-1] == (399, 0.0, -1.0)
    assert len(rows) == 300
    # the model route picks the fused path and agrees with a manual join
    ds = MdioDataset.open(root)
    aligned = ds.isel(i=(100, 400)).to_df_aligned(spark, {"x": "x", "y": "y"})
    assert sorted((r["i"], r["x"], r["y"]) for r in aligned.collect()) == rows


def test_dsv2_multivar_value_named_variable_not_misconsumed(spark, tmp_path):
    """A variable literally named 'value' in the fused multi-variable read
    must NOT have its predicates consumed (the aligned reader has no single
    value column to apply them to) — Spark evaluates them residually and
    the results stay correct."""
    import numpy as np
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = str(tmp_path / "valvar.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("value", shape=(100,), chunks=(10,), dtype="float64", dims=("i",))
    st.create_array("w", shape=(100,), chunks=(10,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("value", np.arange(100.0))
    st.write_array_numpy("w", np.arange(100.0) * 2)
    df = (
        spark.read.format("mdio")
        .option("path", root).option("variables", "value,w")
        .load()
    )
    got = sorted(r["i"] for r in df.filter("value >= 95.0").collect())
    assert got == [95, 96, 97, 98, 99]
    got2 = sorted(r["w"] for r in df.filter("value = 50.0").collect())
    assert got2 == [100.0]


def test_dsv2_dim_in_2d_mixed_with_range(spark, tmp_path):
    """dim IN on one axis + a range on the other of a 2-D store: the
    partition plan uses explicit member chunks on the IN axis and a
    contiguous range on the other; results stay exact."""
    import numpy as np
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    register(spark)
    root = str(tmp_path / "in2d.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("g", shape=(40, 40), chunks=(10, 10), dtype="float64",
                    dims=("r", "c"))
    st.consolidate()
    vals = (np.arange(1600, dtype="f8")).reshape(40, 40)
    st.write_array_numpy("g", vals)
    df = (
        spark.read.format("mdio").option("path", root).option("variable", "g")
        .load()
    )
    got = sorted(
        (r["r"], r["c"], r["value"])
        for r in df.filter("r IN (3, 25) AND c >= 35").collect()
    )
    expect = sorted(
        (rr, cc, float(vals[rr, cc])) for rr in (3, 25) for cc in range(35, 40)
    )
    assert got == expect


def _batch_scan_partitions(df) -> list[int]:
    """Input-partition count of each BatchScanExec in df's executed plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            node = node.plan()
        if node.getClass().getSimpleName() == "BatchScanExec":
            out.append(node.inputPartitions().size())
        kids = node.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    return out


def test_dsv2_task_count_follows_cluster(spark, tmp_path):
    """format('mdio') plans its partitions in Spark's Python planning worker,
    which has no active session: the task count must still follow the
    scan_array rule with THIS cluster's parallelism (16 chunks of 256 KiB on
    local[4] → 4 tasks, not one per chunk and not one for the whole scan)."""
    from mdio_cpp_spark.sources.reader import task_count

    register(spark)
    chunk = 1 << 15
    root = _vf_store(tmp_path, "tc", np.arange(16 * chunk, dtype="f8"), chunk=chunk)
    par = spark.sparkContext.defaultParallelism
    df = spark.read.format("mdio").option("path", root).option("variable", "v").load()
    assert _batch_scan_partitions(df) == [task_count(16, 8 * chunk, par)]
    fused = spark.read.format("mdio").option("path", root).option("variables", "v").load()
    assert _batch_scan_partitions(fused.filter(f"i < {8 * chunk}")) == [task_count(8, 8 * chunk, par)]
    assert task_count(8, 8 * chunk, par) > 1
    assert df.count() == 16 * chunk


def test_segy_source_task_count_follows_cluster(spark, tmp_path):
    """format('segy') plans in the same session-less worker: a 40-trace
    batch read (128 KB traces) follows the trace rule with THIS cluster's
    parallelism."""
    from mdio_cpp_spark.sources.reader import task_count
    from mdio_cpp_spark.sources.segy import _trace_unit, file_geometry, register_segy
    from tests.test_segy import write_segy

    register_segy(spark)
    path = str(tmp_path / "tc.sgy")
    ns = 32_000
    write_segy(path, np.arange(40 * ns, dtype="f8").reshape(40, ns), fmt=5)
    par = spark.sparkContext.defaultParallelism
    df = spark.read.format("segy").option("path", path).load()
    want = task_count(40, _trace_unit(file_geometry(path)["trace_bytes"], ns, True), par)
    assert _batch_scan_partitions(df) == [want] and want > 1
    assert df.count() == 40


def test_fused_scan_rejects_empty_entries(spark, tmp_path):
    """An empty fused-scan spec or entry is a ValueError naming the entry,
    on both the scan_arrays and the option('variables') route."""
    from mdio_cpp_spark.sources.reader import scan_arrays

    register(spark)
    root = _vf_store(tmp_path, "fe", [1.0, 2.0])
    with pytest.raises(ValueError, match="at least one variable"):
        scan_arrays(spark, root, {})
    with pytest.raises(ValueError, match="entry 1 .* names no variable"):
        scan_arrays(spark, root, {"v": "a", "": "b"})
    for raw, pos in (("v,,v", 1), ("v,v,", 2), ("v.", 0)):
        with pytest.raises(Exception, match=f"entry {pos} .* names no variable or field"):
            spark.read.format("mdio").option("path", root).option("variables", raw).load()
