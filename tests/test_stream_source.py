"""Streaming SOURCE for the mdio format: readStream tails a growing store
along its nominated append dimension (1-D arrays and N-D row-slabs).
Offset = append-dim length (one consolidated-metadata read per trigger),
so a checkpointed restart re-reads exactly the appended half-open range —
the streaming inverse of the zarr26 append workflow."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdio_cpp_spark.sources.datasource import register
from mdio_cpp_spark.sources.writer import write_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.utils.resize import grow_dataset

CHUNK = 512
N0 = 1200   # initial length (partial tail chunk)
N1 = 2300   # grown length


def _build(tmp_path, spark, n):
    path = os.path.join(str(tmp_path), "tail.zarr")
    st = ZarrStore.create(path, version=2, attrs={"name": "tail_mdio"})
    st.create_array("v", shape=(n,), chunks=(CHUNK,), dtype="float64",
                    dims=("i",), compressor={"id": "zlib", "level": 1})
    df = spark.range(n).select(F.col("id").alias("i"),
                               (F.col("id") * 2.0).alias("val"))
    write_array(df, path, "v", value_cols="val")
    return path


def _drain(spark, path, checkpoint):
    """One availableNow pass; returns the collected (i, value) rows."""
    register(spark)
    stream = (
        spark.readStream.format("mdio")
        .option("path", path).option("variable", "v")
        .load()
    )
    rows: dict[int, float] = {}

    def sink(df, _bid):
        rows.update({r["i"]: r["value"] for r in df.collect()})

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return rows


def test_tail_initial_then_append_exactly_once(tmp_path, spark):
    path = _build(tmp_path, spark, N0)
    ckpt = os.path.join(str(tmp_path), "ckpt")

    got = _drain(spark, path, ckpt)
    assert len(got) == N0
    assert got[0] == 0.0 and got[N0 - 1] == (N0 - 1) * 2.0

    # grow + write the appended range (mid-chunk boundary on both ends)
    grow_dataset(path, i=N1)
    df = (
        spark.range(N0, N1)
        .select(F.col("id").alias("i"), (F.col("id") * 2.0).alias("val"))
    )
    write_array(df, path, "v", value_cols="val")

    got2 = _drain(spark, path, ckpt)
    assert set(got2) == set(range(N0, N1)), "second pass must emit ONLY appended cells"
    assert got2[N0] == N0 * 2.0 and got2[N1 - 1] == (N1 - 1) * 2.0


def _drain2d(spark, path, checkpoint, append_dim=None):
    register(spark)
    rd = (spark.readStream.format("mdio")
          .option("path", path).option("variable", "g"))
    if append_dim:
        rd = rd.option("append_dim", append_dim)
    stream = rd.load()
    rows: dict[tuple, float] = {}

    def sink(df, _bid):
        rows.update({(r["r"], r["c"]): r["value"] for r in df.collect()})

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return rows


def test_tail_2d_row_slab_appends(tmp_path, spark):
    """N-D tailing (round-5 verdict item 7): a 2-D grid grows along its
    nominated append dimension; each pass emits ONLY the new row-slabs —
    every new row crossed with the FULL column extent — through
    chunk-aligned partitions along the append dim. Mid-chunk boundaries on
    both ends of the append range exercise the RMW/padding path."""
    R0, R1, C = 6, 13, 10   # chunks (4, 4): partial chunks everywhere
    path = os.path.join(str(tmp_path), "grid.zarr")
    st = ZarrStore.create(path, version=2, attrs={"name": "grid_tail"})
    st.create_array("g", shape=(R0, C), chunks=(4, 4), dtype="float64",
                    dims=("r", "c"), compressor={"id": "zlib", "level": 1})
    st.consolidate()

    def rows_df(lo, hi):
        return (spark.range(lo * C, hi * C).select(
            (F.col("id") / C).cast("long").alias("r"),
            (F.col("id") % C).alias("c"),
            (F.col("id") * 1.5).alias("val")))

    write_array(rows_df(0, R0), path, "g", value_cols="val")
    ckpt = os.path.join(str(tmp_path), "ckpt2d")
    got = _drain2d(spark, path, ckpt, append_dim="r")
    assert len(got) == R0 * C
    assert got[(0, 0)] == 0.0 and got[(R0 - 1, C - 1)] == (R0 * C - 1) * 1.5

    grow_dataset(path, r=R1)
    write_array(rows_df(R0, R1), path, "g", value_cols="val")
    got2 = _drain2d(spark, path, ckpt, append_dim="r")
    assert set(got2) == {(r, c) for r in range(R0, R1) for c in range(C)}, \
        "second pass must emit ONLY the appended row-slabs"
    assert got2[(R0, 0)] == R0 * C * 1.5
    assert got2[(R1 - 1, C - 1)] == (R1 * C - 1) * 1.5


def test_tail_rejects_unknown_append_dim(tmp_path, spark):
    path = os.path.join(str(tmp_path), "grid_bad.zarr")
    st = ZarrStore.create(path, version=2)
    st.create_array("g", shape=(8, 8), chunks=(4, 4), dtype="float64",
                    dims=("r", "c"))
    st.consolidate()
    register(spark)
    stream = (
        spark.readStream.format("mdio")
        .option("path", path).option("variable", "g")
        .option("append_dim", "ghost").load()
    )
    with pytest.raises(Exception, match="append_dim"):
        q = (
            stream.writeStream.foreachBatch(lambda df, bid: None)
            .option("checkpointLocation", os.path.join(str(tmp_path), "c2"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)


def test_tail_frontier_watermark_blocks_inflight_appends(tmp_path, spark):
    """With a producer-published frontier attr, a trigger landing in the
    grow→write window must NOT emit the in-flight (fill-valued) cells."""
    path = _build(tmp_path, spark, N0)
    st = ZarrStore.open(path)
    st.patch_array_attrs("v", {"frontier": N0})
    st.consolidate()
    ckpt = os.path.join(str(tmp_path), "ckpt_f")
    assert len(_drain(spark, path, ckpt)) == N0

    # simulate mid-append: shape grown, cells NOT yet written, frontier old
    grow_dataset(path, i=N1)
    got = _drain(spark, path, ckpt)
    assert got == {}, "frontier must hold the stream back until cells land"

    df = spark.range(N0, N1).select(F.col("id").alias("i"), (F.col("id") * 2.0).alias("val"))
    write_array(df, path, "v", value_cols="val")
    st = ZarrStore.open(path)
    st.patch_array_attrs("v", {"frontier": N1})
    st.consolidate()
    got = _drain(spark, path, ckpt)
    assert set(got) == set(range(N0, N1)) and got[N0] == N0 * 2.0


def test_tail_latest_and_rate_cap(tmp_path, spark):
    path = _build(tmp_path, spark, N0)
    register(spark)

    # starting_offset=latest skips the existing array
    rows: dict[int, float] = {}
    q = (
        spark.readStream.format("mdio")
        .option("path", path).option("variable", "v")
        .option("starting_offset", "latest")
        .load()
        .writeStream.foreachBatch(lambda df, b: rows.update({r["i"]: r["value"] for r in df.collect()}))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_l"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert rows == {}, "latest start must skip pre-existing cells"

    # max_cells_per_trigger: unit-level pin of the engine call sequence
    # (latestOffset may precede initialOffset — observed on Spark 4.1; the
    # cap must not apply without a baseline, then must bound every
    # subsequent batch and never regress)
    from mdio_cpp_spark.sources.datasource import MdioStreamReader

    r = MdioStreamReader(path, 2, "v", {"max_cells_per_trigger": "700"}, parallelism=4)
    assert r.latestOffset() == {"cell": N0}, "no baseline yet -> uncapped"
    assert r.initialOffset() == {"cell": 0}
    assert r.latestOffset() == {"cell": 700}, "baseline 0 -> capped at 700"
    parts = r.partitions({"cell": 0}, {"cell": 700})
    # two 4 KiB chunk slabs: below the minimum task size, one task
    assert [(p.lo, p.hi) for p in parts] == [(0, 700)]
    r.commit({"cell": 700})
    assert r.latestOffset() == {"cell": N0}, "remaining 500 < cap"

    # restored checkpoint: partitions() start is an authoritative baseline
    r2 = MdioStreamReader(path, 2, "v", {"max_cells_per_trigger": "300"}, parallelism=4)
    assert r2.latestOffset() == {"cell": N0}, "restart probe -> uncapped"
    r2.partitions({"cell": 800}, {"cell": N0})
    r2.commit({"cell": N0})
    assert r2.latestOffset() == {"cell": N0}, "cap never regresses below baseline"


def test_stream_batch_spans_are_chunk_aligned(tmp_path):
    """A micro-batch big enough for several tasks splits only at chunk
    boundaries (no two tasks decode one chunk), with the rule's task count."""
    import numpy as np

    from mdio_cpp_spark.sources.datasource import MdioStreamReader
    from mdio_cpp_spark.sources.reader import task_count

    chunk = 1 << 17  # 1 MiB of float64
    path = os.path.join(str(tmp_path), "wide.zarr")
    st = ZarrStore.create(path, version=2)
    st.create_array("v", shape=(6 * chunk,), chunks=(chunk,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("v", np.arange(6 * chunk, dtype="f8"))
    r = MdioStreamReader(path, 2, "v", {}, parallelism=4)
    lo, hi = 100, 5 * chunk + 7  # touches chunk slabs 0..5
    spans = [(p.lo, p.hi) for p in r.partitions({"cell": lo}, {"cell": hi})]
    assert len(spans) == task_count(6, 8 * chunk, 4) == 4
    assert spans[0][0] == lo and spans[-1][1] == hi
    assert all(p[1] == q[0] and p[1] % chunk == 0 for p, q in zip(spans, spans[1:]))


def test_tail_composes_with_streaming_agg_batch_parity(tmp_path, spark):
    """The stream source feeds normal streaming transformations: a grouped
    aggregate over the tailed cells must equal the same aggregate over the
    batch scan (one pure transformation, two sources)."""
    from mdio_cpp_spark.sources.reader import scan_array

    path = _build(tmp_path, spark, N0)
    register(spark)
    stream = (
        spark.readStream.format("mdio")
        .option("path", path).option("variable", "v").load()
        .groupBy((F.col("i") % 7).alias("g"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    got = {}
    q = (
        stream.writeStream.outputMode("complete")
        .foreachBatch(lambda df, b: got.update({r["g"]: (r["n"], r["s"]) for r in df.collect()}))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_agg"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    want = {
        r["g"]: (r["n"], r["s"])
        for r in scan_array(spark, path, "v", value_col="value")
        .groupBy((F.col("i") % 7).alias("g"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_store_to_store_streaming_rollup(tmp_path, spark):
    """Full streaming pipeline across BOTH mdio endpoints: tail a growing
    source store, aggregate per 256-cell bucket, and land the rollup in a
    second store. Spark's DSv2 restricts Python streaming sinks to append
    mode, so aggregates route through foreachBatch + the batch writer —
    the same idempotent-RMW argument as streaming/ingest.py. The stored
    rollup must equal the batch-computed one."""
    import numpy as np

    src = _build(tmp_path, spark, 1024)  # 4 buckets of 256
    dst = os.path.join(str(tmp_path), "rollup.zarr")
    st = ZarrStore.create(dst, version=2)
    st.create_array("s", shape=(4,), chunks=(4,), dtype="float64", dims=("b",))
    st.consolidate()
    register(spark)
    stream = (
        spark.readStream.format("mdio")
        .option("path", src).option("variable", "v").load()
        .groupBy(F.expr("i div 256").alias("b"))
        .agg(F.sum("value").alias("s"))
    )

    def land(df, _bid):
        write_array(df.select("b", "s"), dst, "s", value_cols="s")

    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(land)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_roll"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = ZarrStore.open(dst).read_array("s")
    want = np.array([
        sum(i * 2.0 for i in range(b * 256, (b + 1) * 256)) for b in range(4)
    ])
    assert np.allclose(got, want), (got, want)


def test_patch_array_attrs_merges_not_replaces(tmp_path, spark):
    """The frontier recipe must not clobber unrelated attrs (the zone-map
    marker, units): patch_array_attrs merges; update_array_attrs replaces."""
    path = _build(tmp_path, spark, N0)
    st = ZarrStore.open(path)
    st.patch_array_attrs("v", {"custom:tag": "keepme"})
    st.patch_array_attrs("v", {"frontier": N0})
    attrs = ZarrStore.open(path).array_meta("v").attrs
    assert attrs["custom:tag"] == "keepme" and attrs["frontier"] == N0


def test_tail_sharded_v3_store(tmp_path, spark):
    """Streaming tail composes with ZEP-2 sharding: a v3 SHARDED grid
    (inner chunks 4x5 inside 8x10 shards, gzip inner chain) grows along
    its append dim; each pass emits only the new row-slabs, and the
    partition decode takes the box-aware PARTIAL shard read path
    (index + touched inner chunks) because the slab box covers only part
    of each boundary shard."""
    R0, R1, C = 6, 13, 10
    path = os.path.join(str(tmp_path), "sgrid.zarr")
    st = ZarrStore.create(path, version=3, attrs={"name": "sgrid_tail"})
    st.create_array("g", shape=(R0, C), chunks=(4, 5), shards=(8, 10),
                    dtype="float64", dims=("r", "c"),
                    compressor={"id": "gzip", "level": 1})

    def rows_df(lo, hi):
        return (spark.range(lo * C, hi * C).select(
            (F.col("id") / C).cast("long").alias("r"),
            (F.col("id") % C).alias("c"),
            (F.col("id") * 1.5).alias("val")))

    write_array(rows_df(0, R0), path, "g", value_cols="val")
    ckpt = os.path.join(str(tmp_path), "ckpt_sharded")
    got = _drain2d(spark, path, ckpt, append_dim="r")
    assert len(got) == R0 * C
    assert got[(0, 0)] == 0.0 and got[(R0 - 1, C - 1)] == (R0 * C - 1) * 1.5

    grow_dataset(path, r=R1)
    write_array(rows_df(R0, R1), path, "g", value_cols="val")
    got2 = _drain2d(spark, path, ckpt, append_dim="r")
    assert set(got2) == {(r, c) for r in range(R0, R1) for c in range(C)}, \
        "second pass must emit ONLY the appended row-slabs"
    assert got2[(R0, 0)] == R0 * C * 1.5
    assert got2[(R1 - 1, C - 1)] == (R1 * C - 1) * 1.5
