"""Declared queries over REAL Zarr stores (SURVEY §2.1 IO1–IO9, Q8, A6).

Each query scans an MDIO/Zarr store that is built deterministically from the
driver's ``orders``/``lineitem`` parquet — so the DuckDB oracle can recompute
the expected result from the same parquet with pure SQL. The mapping is:
row r of ``orders`` ordered by ``o_orderkey`` lands at index ``i = r-1`` of
every 1-D array (``ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1`` in SQL).
This makes every store query a *round-trip oracle*: parquet → Spark
chunk-aligned zarr write (IO5) → distributed chunk-pruned zarr scan (IO4) →
must hash-match SQL over the original parquet.

Stores are cached under ``/root/repo/.zarr_cache/<sf>/`` behind a build
marker; the build itself exercises IO2 (from_json + validation) and IO5
(Spark writer). Store sizes adapt to the sf (pure functions of the orders
row count, mirrored exactly in each oracle's scalar subqueries), so the same
queries are valid from sf0.001 to sf100.

Scale notes: every scan here plans only the chunks its index ranges touch
(reader.py pruning); the build's one shuffle is the chunk-id repartition —
the theoretical minimum for a re-chunking write.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mdio_cpp_spark.catalog import table
from mdio_cpp_spark.model import MdioDataset
from mdio_cpp_spark.operators.prefix import bucketed_prefix
from mdio_cpp_spark.plans.base import declared
from mdio_cpp_spark.session import local_frame, tune
from mdio_cpp_spark.sources import zonemap
from mdio_cpp_spark.sources.writer import dense_fill_frame
from mdio_cpp_spark.sources.zarr_store import ZarrStore
from mdio_cpp_spark.utils.trim import trim_dataset

CACHE_ROOT = "/root/repo/.zarr_cache"
BUILD_TAG = "v7"  # bump to invalidate cached stores after builder changes
CHUNK = 2048
GRID_C = 64       # grid2d column count; rows adapt to sf (cap 128)
CUBE_IL, CUBE_XL, CUBE_T = 8, 8, 16   # 3-D cube dims (zarr90/91); 8 chunk boxes of 4x4x8
TRIM_KEEP_FRAC = 2  # trim store keeps N_trim // 2 rows


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _base(sf_dir: str) -> str:
    return os.path.join(CACHE_ROOT, _sf_tag(sf_dir))


def _zip_index(df: DataFrame, sort_keys: list[str], bucket_expr, out_col: str) -> DataFrame:
    """Global dense 0-based index ordered by ``sort_keys`` with NO
    data-sized global window — the DataFrame form of zipWithIndex.

    ONE light job + a lazy plan: approx-quantile boundaries of
    ``bucket_expr`` (a numeric expression order-consistent with the sort
    keys) are collected once and baked into the plan as literals, so the
    bucket assignment is deterministic across the later jobs with no
    persist; the index is then ``bucketed_prefix``'s running count over
    (bucket, sort keys), minus one — the bucket offsets cumulate in-plan
    over the ≤nparts-row bucket table, never on the driver."""
    spark = df.sparkSession
    nparts = max(1, spark.sparkContext.defaultParallelism)
    tagged = df.withColumn("__k", bucket_expr.cast("double"))
    bounds: list[float] = []
    if nparts > 1:
        qs = [i / nparts for i in range(1, nparts)]
        bounds = sorted(set(tagged.approxQuantile("__k", qs, 0.01)))
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("__k") > F.lit(float(b))).cast("int")
    tagged = tagged.withColumn("__pid", pid)
    return (
        bucketed_prefix(tagged, out_col, "count", buckets=["__pid"], order=sort_keys)
        .withColumn(out_col, F.col(out_col) - 1)
        .drop("__k", "__pid")
    )


def _orders_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with the deterministic array index i = rank(o_orderkey) - 1,
    computed scalably by _zip_index (no single-partition window)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    return _zip_index(o, ["o_orderkey"], F.col("o_orderkey"), "i").select(
        "i", "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )


def ensure_stores(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently build every store for this sf; returns the cache base."""
    tune(spark)  # runtime confs (AQE, arrow batches, python pushdown) —
    # needed on the cached path too: an externally-created session may lack
    # spark.sql.python.filterPushdown.enabled for zarr16's DataSource read
    base = _base(sf_dir)
    marker = os.path.join(base, f".built_{BUILD_TAG}")
    if os.path.exists(marker):
        return base
    # stale or partial cache from an older builder: rebuild from scratch so
    # the BUILD_TAG bump actually invalidates every store
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    ords = _orders_indexed(spark, sf_dir).cache()
    n = ords.count()

    # ---- main v2 store: from_json (IO2) + Spark chunk-aligned writes (IO5)
    main = os.path.join(base, "orders_v2.zarr")
    n_lq = 10000
    spec = {
        "metadata": {"name": "orders_mdio", "apiVersion": "1.0.0",
                     "attributes": {"source": "driver orders.parquet"}},
        "variables": [
            {"name": "i", "dataType": "int64",
             "dimensions": [{"name": "i", "size": n}],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            {"name": "price", "dataType": "float64", "dimensions": ["i"],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}},
             "compressor": {"name": "blosc", "algorithm": "zstd"}},
            {"name": "sparse", "dataType": "int32", "dimensions": ["i"],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            {"name": "hdr",
             "dataType": {"fields": [{"name": "ck", "format": "int32"},
                                     {"name": "ok2", "format": "int64"}]},
             "dimensions": ["i"],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            {"name": "u64", "dataType": "uint64", "dimensions": ["i"],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            {"name": "cpx", "dataType": "complex128", "dimensions": ["i"],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            {"name": "j", "dataType": "int64",
             "dimensions": [{"name": "j", "size": n_lq}],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            {"name": "lq", "dataType": "float64", "dimensions": ["j"],
             "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
        ],
    }
    if not os.path.exists(os.path.join(main, ".zmetadata")):
        from mdio_cpp_spark.sources.writer import write_arrays

        ds = MdioDataset.from_json(spec, main)
        # every variable on the shared i-grid lands in ONE chunk-keyed
        # shuffle (write_arrays) — the build used to pay 5 shuffles here
        wide = ords.select(
            "i",
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").alias("price"),
            F.col("o_custkey").cast("int").alias("ck"),
            (F.col("o_orderkey") * 2).cast("long").alias("ok2"),
            # uint64 beyond int64 range: decimal arithmetic on the build
            # side, np.uint64 storage — exercises the unsigned widening
            (F.col("o_orderkey").cast("decimal(20,0)")
             + F.lit("9223372036854775808").cast("decimal(20,0)")).alias("u64v"),
            F.col("o_custkey").cast("double").alias("im"),
        )
        write_arrays(wide, main, {
            "i": "okey",
            "price": "price",
            "hdr": {"ck": "ck", "ok2": "ok2"},
            "u64": "u64v",
            "cpx": {"re": "price", "im": "im"},
        })
        # string/datetime stored arrays (SURVEY §1.2 upgrade: the reference
        # treats numpy kinds U/M as header-only, zarr_v2.h:139-162; our scan
        # reads them natively) — created outside the MDIO spec (not MDIO
        # scalar types), written in one fused shuffle
        st_main = ds.store
        st_main.create_array("pr", shape=(n,), chunks=(CHUNK,),
                             dtype=np.dtype("<U15"), dims=("i",),
                             compressor={"id": "zlib", "level": 5})
        st_main.create_array("od", shape=(n,), chunks=(CHUNK,),
                             dtype=np.dtype("<M8[us]"), dims=("i",),
                             compressor={"id": "zlib", "level": 5})
        write_arrays(
            ords.select("i", F.col("o_orderpriority").alias("prv"),
                        F.col("o_orderdate").alias("odv")),
            main, {"pr": "prv", "od": "odv"},
        )
        # sparse: only even-numbered chunks written → odd chunks stay ABSENT
        # on disk and read as fill (kept out of the fused write on purpose —
        # the fused write would materialize the odd chunks)
        ds.var("sparse").write_df(
            ords.filter((F.expr(f"i div {CHUNK}") % 2) == 0)
            .select("i", F.col("o_custkey").cast("int").alias("v")),
            value_cols="v",
        )
        ds.var("j").write_df(
            ords.filter(F.col("i") < n_lq).select(F.col("i").alias("j"), F.col("i").alias("v")),
            value_cols="v",
        )
        # lq intentionally left unwritten — zarr09 writes it per run (IO5 gate)

    # ---- 2-D grid store: both-dim chunk pruning
    grid = os.path.join(base, "grid_v2.zarr")
    rows = min(n // GRID_C, 128)
    if rows >= 1 and not os.path.exists(os.path.join(grid, ".zmetadata")):
        gspec = {
            "metadata": {"name": "grid_mdio", "apiVersion": "1.0.0"},
            "variables": [
                {"name": "row", "dataType": "int64", "dimensions": [{"name": "row", "size": rows}]},
                {"name": "col", "dataType": "int64", "dimensions": [{"name": "col", "size": GRID_C}]},
                {"name": "grid", "dataType": "float64",
                 "dimensions": [{"name": "row", "size": rows}, {"name": "col", "size": GRID_C}],
                 "metadata": {"chunkGrid": {"name": "regular",
                                            "configuration": {"chunkShape": [32, 32]}}}},
            ],
        }
        gds = MdioDataset.from_json(gspec, grid)
        cells = ords.filter(F.col("i") < rows * GRID_C).select(
            F.expr(f"i div {GRID_C}").alias("row"),
            (F.col("i") % GRID_C).alias("col"),
            F.col("o_totalprice").alias("v"),
        )
        gds.var("grid").write_df(cells, value_cols="v")
        gds.var("row").write_df(
            ords.filter(F.col("i") < rows).select(F.col("i").alias("row"), F.col("i").alias("v")),
            value_cols="v")
        gds.var("col").write_df(
            ords.filter(F.col("i") < GRID_C).select(F.col("i").alias("col"), F.col("i").alias("v")),
            value_cols="v")

    # ---- v3 store (zarr.json layout, gzip codec)
    v3 = os.path.join(base, "orders_v3.zarr")
    if not os.path.exists(os.path.join(v3, "zarr.json")):
        from mdio_cpp_spark.sources.writer import write_arrays as _was

        st3 = ZarrStore.create(v3, version=3, attrs={"name": "orders_v3"})
        st3.create_array("price", shape=(n,), chunks=(CHUNK,), dtype="float64",
                         dims=("i",), compressor={"id": "gzip", "level": 4})
        # struct dtype ON v3 (zarr_v3.h:81-131 field-list layout) — zarr21
        st3.create_array("hdr", shape=(n,), chunks=(CHUNK,), dtype={"fields": [
            {"name": "ck", "format": "int32"}, {"name": "ok2", "format": "int64"}]},
            dims=("i",), compressor={"id": "gzip", "level": 4})
        st3.consolidate()
        _was(
            ords.select("i", F.col("o_totalprice").alias("price"),
                        F.col("o_custkey").cast("int").alias("ck"),
                        (F.col("o_orderkey") * 2).cast("long").alias("ok2")),
            v3, {"price": "price", "hdr": {"ck": "ck", "ok2": "ok2"}},
        )

    # ---- trim store: built then destructively trimmed (IO8)
    trim = os.path.join(base, "trim_v2.zarr")
    n_trim = min(n, 12000)
    if not os.path.exists(os.path.join(trim, ".zmetadata")):
        tspec = {
            "metadata": {"name": "trim_mdio", "apiVersion": "1.0.0"},
            "variables": [
                {"name": "i", "dataType": "int64",
                 "dimensions": [{"name": "i", "size": n_trim}],
                 "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
                {"name": "price", "dataType": "float64", "dimensions": ["i"],
                 "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [CHUNK]}}}},
            ],
        }
        from mdio_cpp_spark.sources.writer import write_arrays

        MdioDataset.from_json(tspec, trim)
        sub = ords.filter(F.col("i") < n_trim).select(
            "i", F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("price"))
        write_arrays(sub, trim, {"i": "okey", "price": "price"})
        trim_dataset(trim, i=n_trim // TRIM_KEEP_FRAC)

    # ---- 3-D cube store (inline × crossline × time): the reference's core
    # seismic shape — chunked on ALL THREE dims so sub-volume isel prunes
    # chunk BOXES (zarr90/91)
    cube = os.path.join(base, "cube_v2.zarr")
    if n >= CUBE_IL * CUBE_XL * CUBE_T and not os.path.exists(
        os.path.join(cube, ".zmetadata")
    ):
        cspec = {
            "metadata": {"name": "cube_mdio", "apiVersion": "1.0.0"},
            "variables": [
                {"name": "il", "dataType": "int64", "dimensions": [{"name": "il", "size": CUBE_IL}]},
                {"name": "xl", "dataType": "int64", "dimensions": [{"name": "xl", "size": CUBE_XL}]},
                {"name": "t", "dataType": "int64", "dimensions": [{"name": "t", "size": CUBE_T}]},
                {"name": "amp", "dataType": "float64",
                 "dimensions": ["il", "xl", "t"],
                 "metadata": {"chunkGrid": {"name": "regular",
                                            "configuration": {"chunkShape": [4, 4, 8]}}}},
                # UTM coordinate grids (the reference survey's cdp-x/cdp-y,
                # examples/seismic_reader/main.hh GetUTMCoords): 2-D over the
                # lateral dims, chunked to align with amp's chunk boxes
                {"name": "cdp_x", "dataType": "float64",
                 "dimensions": ["il", "xl"],
                 "metadata": {"chunkGrid": {"name": "regular",
                                            "configuration": {"chunkShape": [4, 4]}}}},
                {"name": "cdp_y", "dataType": "float64",
                 "dimensions": ["il", "xl"],
                 "metadata": {"chunkGrid": {"name": "regular",
                                            "configuration": {"chunkShape": [4, 4]}}}},
            ],
        }
        cds = MdioDataset.from_json(cspec, cube)
        plane = CUBE_XL * CUBE_T
        ccells = ords.filter(F.col("i") < CUBE_IL * plane).select(
            F.expr(f"i div {plane}").alias("il"),
            F.expr(f"(i div {CUBE_T}) % {CUBE_XL}").alias("xl"),
            (F.col("i") % CUBE_T).alias("t"),
            F.col("o_totalprice").alias("v"),
        )
        cds.var("amp").write_df(ccells, value_cols="v")
        # a gently rotated acquisition grid in MGA Zone 51 (southern
        # hemisphere): exact-integer doubles, so the store round-trip is
        # bit-exact and the geo01-03 oracles can re-derive the grid
        cgrid = ords.filter(F.col("i") < CUBE_IL * CUBE_XL).select(
            F.expr(f"i div {CUBE_XL}").alias("il"),
            (F.col("i") % CUBE_XL).alias("xl"),
        )
        cds.var("cdp_x").write_df(
            cgrid.select("il", "xl",
                         (447000.0 + F.col("il") * 250.0 + F.col("xl") * 25.0).alias("v")),
            value_cols="v",
        )
        cds.var("cdp_y").write_df(
            cgrid.select("il", "xl",
                         (7656000.0 + F.col("xl") * 250.0 - F.col("il") * 25.0).alias("v")),
            value_cols="v",
        )
        for dn, sz in (("il", CUBE_IL), ("xl", CUBE_XL), ("t", CUBE_T)):
            cds.var(dn).write_df(
                ords.filter(F.col("i") < sz).select(F.col("i").alias(dn), F.col("i").alias("v")),
                value_cols="v",
            )

    ords.unpersist()
    with open(marker, "w") as f:
        f.write(BUILD_TAG)
    return base


def _main_store(spark: SparkSession, sf_dir: str) -> str:
    return os.path.join(ensure_stores(spark, sf_dir), "orders_v2.zarr")


# --------------------------------------------------------------- IO1/IO4: scan

@declared(
    "zarr01_scan",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1000 AND rn - 1 < 9000
    ORDER BY i
    """,
)
def zarr01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO1+IO4: Dataset::Open + chunk-parallel Read of an isel slice
    (dataset.h:941-1118, variable.h:1079-1103). Only chunks intersecting
    [1000, 9000) are planned (chunk pruning, SURVEY §4)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return ds.isel(i=(1000, 9000)).to_df(spark, "price", value_col="price").orderBy("i")


@declared(
    "zarr02_isel_stride",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1000 AND rn - 1 < 9000 AND ((rn - 1) - 1000) % 5 = 0
    ORDER BY i
    """,
)
def zarr02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO4+Q2: strided isel over stored chunks (variable.h:1348-1351;
    dataset_test.cc:436-560 pins the semantics)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return ds.isel(i=(1000, 9000, 5)).to_df(spark, "price", value_col="price").orderBy("i")


@declared(
    "zarr03_fill_sparse",
    oracle=f"""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           CAST(CASE WHEN ((rn - 1) // {CHUNK}) % 2 = 0 THEN o_custkey
                     ELSE 2147483647 END AS INTEGER) AS v
    FROM (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    ORDER BY i
    """,
)
def zarr03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-value synthesis: odd chunks were never written, so they read back
    as the int32 fill (type max — dataset_factory.h:500-545; behavior pinned
    by dataset_test.cc:436-560 iselWithStride). No I/O for absent chunks."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return ds.to_df(spark, "sparse", value_col="v").orderBy("i")


@declared(
    "zarr04_sel_range",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // 10
      AND rn - 1 <= CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // 2
    ORDER BY i
    """,
)
def zarr04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 on real storage: value-based sel range on the dimension coordinate
    (o_orderkey values), stop-INCLUSIVE, unique-endpoint checked
    (dataset.h:787-885). The coordinate scan is driver-side (small 1-D array,
    same judgment as the reference's single-thread scan, dataset.h:552-629);
    the data read is the pruned distributed scan."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    coord = ds.store.read_array("i")
    n = len(coord)
    lo_val, hi_val = int(coord[n // 10]), int(coord[n // 2])
    return (
        ds.sel(i=(lo_val, hi_val))
        .to_df(spark, "price", value_col="price")
        .orderBy("i")
    )


@declared(
    "zarr05_grid2d",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row, col, v FROM cells
    WHERE row >= 8 AND row < 40 AND col >= 16 AND col < 48
    ORDER BY row, col
    """,
)
def zarr05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D array scan with BOTH-dimension chunk pruning: a (row, col) box
    over 32×32 chunks plans only the intersecting chunk rectangle — the
    hyper-rectangle slice of dataset.h:423-470 at its natural rank."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    return (
        ds.isel(row=(8, 40), col=(16, 48))
        .to_df(spark, "grid", value_col="v")
        .orderBy("row", "col")
    )


@declared(
    "zarr06_select_field",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, CAST(o_orderkey * 2 AS BIGINT) AS ok2 FROM
      (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1200 AND rn - 1 < 12000
    ORDER BY i
    """,
)
def zarr06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 on real stored struct data: SelectField picks ONE field of the
    record-dtype array at decode time (dataset.h:1131-1262) — the other
    field's bytes are never shipped past the decoder. Replaces round 1's
    synthesized-struct stand-in."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return (
        ds.isel(i=(1200, 12000))
        .select_field(spark, "hdr", "ok2")
        .orderBy("i")
    )


@declared(
    "zarr07_v3_scan",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 500 AND rn - 1 < 7500
    ORDER BY i
    """,
)
def zarr07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v3 layout (zarr.json metadata tree, c/-prefixed chunk keys, gzip
    codec chain) through the same pruned scan — the version parametrization
    the reference tests everywhere (TEST_P over v2/v3, dataset_test.cc:49-60)."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "orders_v3.zarr"))
    return ds.isel(i=(500, 7500)).to_df(spark, "price", value_col="price").orderBy("i")


@declared(
    "zarr08_trim_scan",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT), 12000) // 2
    ORDER BY i
    """,
)
def zarr08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO8: scan of a dataset destructively trimmed to half its rows
    (utils/trim.h:45-117 — shape metadata shrunk, out-of-bounds chunk files
    deleted). A full scan sees exactly the kept domain."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "trim_v2.zarr"))
    return ds.to_df(spark, "price", value_col="price").orderBy("i")


@declared(
    "zarr09_write_roundtrip",
    oracle="""
    SELECT CAST(COUNT(v) AS BIGINT) AS cnt, ROUND(SUM(v), 2) AS sum_v,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM (SELECT l_quantity AS v, ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
          FROM lineitem)
    WHERE rn <= 10000
    """,
)
def zarr09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO5 write gate: lineitem quantities → Spark chunk-aligned zarr write
    (each chunk owned by exactly one task, so the concurrent-write UB the
    reference warns about cannot happen; existing chunks RMW'd by their
    single owner) → re-scan → aggregate. The stored bytes, not the source
    DataFrame, produce the answer."""
    store = _main_store(spark, sf_dir)
    ds = MdioDataset.open(store)
    li = table(spark, sf_dir, "lineitem")
    # take-ordered limit (parallel partial sort) BEFORE numbering; the index
    # itself comes from _zip_index — no data-sized global window in the build
    sub = (
        li.select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(10000)
        .persist()  # _zip_index reads this frame three times (its
        # approxQuantile action plus two lazy reads in the write); without
        # the cache each one re-executes the global take-ordered
    )
    # l_linenumber is 1..7, so okey*10+line is order-consistent and unique
    src = _zip_index(
        sub, ["l_orderkey", "l_linenumber"],
        F.col("l_orderkey") * 10 + F.col("l_linenumber"), "j",
    ).select("j", F.col("l_quantity").cast("double").alias("v"))
    report = ds.var("lq").write_df(src, value_cols="v")
    n_written = int(report["cells_written"])
    back = MdioDataset.open(store).isel(j=(0, n_written)).to_df(spark, "lq", value_col="v")
    return back.agg(
        F.count("v").alias("cnt"),
        F.round(F.sum("v"), 2).alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr10_stats_commit",
    oracle="""
    SELECT CAST(COUNT(o_totalprice) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_v,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM orders
    """,
)
def zarr10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+IO7: SummaryStats computed by the engine, committed to the store's
    attributes (UserAttributes swap + CommitMetadata, stats.h:408-490,
    dataset.h:1269-1416), then READ BACK from the reopened store — the
    emitted row comes from the published metadata, not the computation."""
    store = _main_store(spark, sf_dir)
    ds = MdioDataset.open(store)
    row = (
        ds.to_df(spark, "price", value_col="v")
        .agg(F.count("v").alias("cnt"), F.round(F.sum("v"), 2).alias("sum_v"),
             F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .collect()[0]
    )
    ds.set_stats("price", {"count": row["cnt"], "sum": row["sum_v"],
                           "min": row["min_v"], "max": row["max_v"]})
    ds.commit_metadata()
    stats = MdioDataset.open(store).var("price").attrs["statsV1"]
    return spark.range(1).select(
        F.lit(int(stats["count"])).cast("bigint").alias("cnt"),
        F.lit(float(stats["sum"])).alias("sum_v"),
        F.lit(float(stats["min"])).alias("min_v"),
        F.lit(float(stats["max"])).alias("max_v"),
    )


@declared(
    "zarr11_complex_scan",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS value_re,
           CAST(o_custkey AS DOUBLE) AS value_im
    FROM (SELECT o_totalprice, o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 900 AND rn - 1 < 9000
    ORDER BY i
    """,
)
def zarr11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """complex128 dtype (impl.h:163-179): stored as interleaved doubles,
    scanned into (value_re, value_im) columns — Spark has no complex type,
    so the pair IS the mapping (SURVEY §1.2). Fill is [NaN, NaN]."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return ds.isel(i=(900, 9000)).to_df(spark, "cpx").orderBy("i")


@declared(
    "zarr14_value_filter",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1100 AND rn - 1 < 14000 AND o_totalprice >= 250000.0
    ORDER BY i
    """,
)
def zarr14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-predicate pushdown past the Python boundary: the >= filter runs
    in numpy INSIDE the chunk decoder, so non-matching cells never cross the
    Arrow transfer or reach the JVM — chunk pruning handles the dims, this
    handles the values (the full pushdown story for the custom source)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return (
        ds.isel(i=(1100, 14000))
        .var("price")
        .to_df(spark, value_col="price", value_filter=(">=", 250000.0))
        .orderBy("i")
    )


@declared(
    "zarr12_list_variables",
    oracle="""
    SELECT v FROM (VALUES ('cpx'), ('hdr'), ('i'), ('j'), ('lq'), ('od'), ('pr'),
                          ('price'), ('sparse'), ('u64')) AS t(v)
    ORDER BY v
    """,
)
def zarr12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: deterministic sorted variable listing
    (variable_collection.h:148-155) from the consolidated metadata — one
    driver read, no scan."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    # literal array + explode keeps this JVM-only: createDataFrame over a
    # Python list would round-trip through parallelize + a Python worker
    # (~1.5 s of overhead for 10 rows)
    return (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(v) for v in ds.list_variables()])).alias("v"))
        .orderBy("v")
    )


@declared(
    "zarr15_uint64_scan",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           CAST(CAST(o_orderkey AS HUGEINT) + 9223372036854775808 AS VARCHAR) AS v
    FROM (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 800 AND rn - 1 < 9000
    ORDER BY i
    """,
)
def zarr15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uint64 widening policy (SURVEY §1.2): values above int64 max stored
    as native uint64, scanned into Decimal(20,0) — emitted as exact digit
    strings because DuckDB's pandas bridge degrades DECIMAL to float64
    (stringification is the only lossless cross-engine comparison)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return (
        ds.isel(i=(800, 9000))
        .to_df(spark, "u64", value_col="v")
        .select("i", F.col("v").cast("string").alias("v"))
        .orderBy("i")
    )


@declared(
    "zarr16_datasource",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS value FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1300 AND rn - 1 < 13000
    ORDER BY i
    """,
)
def zarr16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO1/IO4 through the registered Python Data Source:
    spark.read.format('mdio') with a plain .filter() — Catalyst hands the
    dim predicates to the reader's pushFilters, which consumes them into
    chunk pruning (the DataSourceV2-style integration, SURVEY §4)."""
    from mdio_cpp_spark.sources.datasource import register

    store = _main_store(spark, sf_dir)
    register(spark)
    return (
        spark.read.format("mdio")
        .option("path", store).option("variable", "price")
        .load()
        .filter((F.col("i") >= 1300) & (F.col("i") < 13000))
        .orderBy("i")
    )


@declared(
    "zarr17_coord_join",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, CAST(o_orderkey AS BIGINT) AS okey,
           o_totalprice AS price
    FROM (SELECT o_orderkey, o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 700 AND rn - 1 < 11000
    ORDER BY i
    """,
)
def zarr17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coordinate map (dataset.h:1056-1115): scan ``price`` with the
    dimension coordinate's VALUES (o_orderkey) broadcast-joined on — the
    reference's implicit dimension alignment as a broadcast equi-join; the
    data side never shuffles."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return (
        ds.isel(i=(700, 11000))
        .to_df_with_coords(spark, "price", coords={"i": "okey"}, value_col="price")
        .select("i", "okey", "price")
        .orderBy("i")
    )


@declared(
    "zarr18_sql_view",
    oracle=f"""
    SELECT CAST(((rn - 1) // {CHUNK}) AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 8192
    GROUP BY 1 ORDER BY 1
    """,
)
def zarr18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-over-store: the variable registered as a temp view over
    format('mdio'); a plain spark.sql WHERE prunes chunks through
    pushFilters. Per-chunk aggregate — the engine's SQL surface end-to-end."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    ds.register_views(spark, variables=["price"])
    return spark.sql(f"""
        SELECT (i div {CHUNK}) AS chunk_id, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total
        FROM mdio_price WHERE i < 8192
        GROUP BY 1 ORDER BY 1
    """)


@declared(
    "zarr19_align_federated",
    oracle="""
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_rows, ROUND(SUM(price), 2) AS total
    FROM (
      SELECT o.o_totalprice AS price, o.o_custkey AS ck
      FROM (SELECT o_totalprice, o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders) o
      WHERE rn - 1 < 10000
    ) z
    JOIN customer ON z.ck = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def zarr19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-alignment join (dataset.h:439-447 — the §2.5 'one required
    join use') + federation: two zarr variables (price; hdr.ck struct field)
    align on their shared dim, then join PARQUET customer/nation — a
    heterogeneous-source plan where the zarr side is chunk-pruned, the
    bounded dim is broadcast, and the sf-proportional customer join is left
    to AQE."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    z = (
        ds.isel(i=(0, 10000))
        .to_df_aligned(spark, {"price": "price", "hdr.ck": "ck"})
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        z.join(c, z.ck == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("price"), 2).alias("total"))
        .orderBy("n_name")
    )


@declared(
    "zarr20_string_datetime_scan",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_orderpriority AS pr,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od
    FROM (SELECT o_orderpriority, o_orderdate,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 100 AND rn - 1 < 5100
    ORDER BY i
    """,
)
def zarr20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + datetime STORED arrays scanned natively (SURVEY §1.2
    upgrade): the reference flags numpy kinds U/M header-only and refuses to
    open them as arrays (zarr_v2.h:139-162, header_variable.h:100-248); our
    scan decodes fixed-width UCS4 and datetime64 chunks into
    StringType/TimestampType columns through the same pruned path. Output
    formats the timestamp to dodge cross-engine timestamp rendering."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    out = ds.isel(i=(100, 5100)).to_df_aligned(spark, {"pr": "pr", "od": "od_ts"})
    return out.select(
        "i", "pr", F.date_format("od_ts", "yyyy-MM-dd HH:mm:ss").alias("od")
    ).orderBy("i")


@declared(
    "zarr21_struct_v3",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, CAST(o_orderkey * 2 AS BIGINT) AS ok2 FROM
      (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1400 AND rn - 1 < 11000
    ORDER BY i
    """,
)
def zarr21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 on Zarr v3: struct (record) dtype stored with the v3 field-list
    data_type layout ({"name": "struct", "configuration": {"fields": …}},
    zarr_v3.h:81-131), one field selected at decode time. The v2 twin is
    zarr06 — together they parametrize SelectField over both versions."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "orders_v3.zarr"))
    return (
        ds.isel(i=(1400, 11000))
        .select_field(spark, "hdr", "ok2")
        .orderBy("i")
    )


@declared(
    "zarr22_multirange_isel",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE (rn - 1 >= 500 AND rn - 1 < 1500)
       OR (rn - 1 >= 6000 AND rn - 1 < 6500)
       OR (rn - 1 >= 9000 AND rn - 1 < 9100)
    ORDER BY i
    """,
)
def zarr22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 at the store level: MULTIPLE index ranges on one dimension
    (the reference's duplicate-label slice → per-range slice + Concat,
    variable.h:1357-1396). Each range scans only its own chunks; the plan is
    a union of three pruned scans, nothing in between is read."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    return (
        ds.isel_multi(i=[(500, 1500), (6000, 6500), (9000, 9100)])
        .to_df(spark, "price", value_col="price")
        .orderBy("i")
    )


@declared(
    "zarr13_fill_dense",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS cnt,
           CAST((SELECT COUNT(*) FROM orders) * ((SELECT COUNT(*) FROM orders) - 1) // 2 AS BIGINT) AS sum_i,
           CAST(-1.0 AS DOUBLE) AS fill_v
    """,
)
def zarr13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO6 from_variable (variable.h:1954-1995): a dense fill-initialized
    logical grid sized to the dataset domain — lazy spark.range unravel, no
    materialized buffer anywhere (the reference allocates; we stream)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    n = ds.domain()["i"]
    dense = dense_fill_frame(spark, (n,), ["i"], -1.0, value_col="v")
    return dense.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("i").alias("sum_i"),
        F.max("v").alias("fill_v"),
    )


@declared(
    "zarr23_axis_reduce",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row, COUNT(*) AS n_cells,
           ROUND(SUM(v), 2) / COUNT(*) AS mean_v, ROUND(SUM(v), 2) AS sum_v
    FROM cells WHERE row < 64 GROUP BY row ORDER BY row
    """,
)
def zarr23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis reduction over a stored 2-D array: mean/sum of each row across
    the full col extent (the xarray ``arr.mean(dim='col')`` shape; the
    reference stops at whole-variable SummaryStats, stats.h:229-335 — a
    per-remaining-dim reduce is the array-analytics upgrade). The row slice
    prunes chunks first, then the reduce is a partial agg keyed on the
    surviving dim — the shuffle carries one row per (row, partial), never
    cell data."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    return (
        ds.isel(row=(0, 64))
        .to_df(spark, "grid", value_col="v")
        .groupBy("row")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.round(F.sum("v"), 2) / F.count(F.lit(1))).alias("mean_v"),
            F.round(F.sum("v"), 2).alias("sum_v"),
        )
        .orderBy("row")
    )


@declared(
    "zarr24_prefix_sum",
    oracle="""
    SELECT i, ROUND(SUM(v) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING), 2) AS run_sum
    FROM (
      SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS v FROM
        (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < 8192
    ) ORDER BY i
    """,
)
def zarr24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate over a stored array with NO data-sized global
    window: the array's chunk grid is the natural prefix-sum bucketing, so
    the running sum is ``bucketed_prefix`` over the chunk id — nothing is
    driver-resident, unlike a collect-and-rebroadcast of n_chunks offsets
    (~12M at 100 TB). (Rounding is safe: sums of 2-decimal prices have 2
    exact decimals, and both offset folds accumulate in the same chunk
    order, so fp drift never crosses a rounding boundary.)"""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    scan = ds.isel(i=(0, 8192)).to_df(spark, "price", value_col="v")
    tagged = scan.withColumn("__b", (F.col("i") / F.lit(CHUNK)).cast("long"))
    return (
        bucketed_prefix(tagged, "run_sum", "sum", buckets=["__b"], order=["i"], value="v")
        .select("i", F.round("run_sum", 2).alias("run_sum"))
        .orderBy("i")
    )


# -------------------------------------------- layout migration / append (aux)

RECHUNK_TO = 1331  # deliberately a non-divisor of CHUNK: boundary realignment


def _rechunk_store(spark: SparkSession, sf_dir: str) -> str:
    """Lazily rechunk the main store's price array 2048 -> 1331 into its own
    store (own marker — does not invalidate the BUILD_TAG fixture cache)."""
    from mdio_cpp_spark.utils.rechunk import rechunk_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "rechunk_v2.zarr")
    marker = os.path.join(base, ".built_rechunk_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        rechunk_array(spark, _main_store(spark, sf_dir), "price", path, (RECHUNK_TO,))
        with open(marker, "w") as f:
            f.write("ok")
    return path


def _append_store(spark: SparkSession, sf_dir: str) -> str:
    """Lazily build the append fixture: create at half size, write the first
    half, grow the dimension, write the rest (read-modify-write lands in the
    boundary chunk)."""
    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.utils.resize import grow_dataset

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "append_v2.zarr")
    marker = os.path.join(base, ".built_append_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        ).cache()
        n = ords.count()
        n_half = n // 2
        st = ZarrStore.create(path, version=2, attrs={"name": "append_mdio"})
        st.create_array("val", shape=(max(n_half, 1),), chunks=(CHUNK,),
                        dtype="float64", dims=("i",),
                        compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(ords.filter(F.col("i") < n_half), path, "val", value_cols="v")
        grow_dataset(path, i=n)
        write_array(ords.filter(F.col("i") >= n_half), path, "val", value_cols="v")
        ords.unpersist()
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr25_rechunk",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 500 AND rn - 1 < 10000
    ORDER BY i
    """,
)
def zarr25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout migration: the price array rechunked 2048 -> 1331 (a
    non-divisor, so every destination chunk straddles source boundaries),
    then scanned with an isel slice planned on the NEW grid. The rechunk is
    scan -> one dst-chunk-keyed shuffle -> parallel encodes
    (utils/rechunk.py); values must be byte-identical to the original, so
    the oracle is the same parquet SQL as the pre-migration scans."""
    path = _rechunk_store(spark, sf_dir)
    from mdio_cpp_spark.sources.reader import scan_array

    return (
        scan_array(spark, path, "price", ranges={"i": (500, 10000)}, value_col="price")
        .orderBy("i")
    )


@declared(
    "zarr26_append",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS val FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    ORDER BY i
    """,
)
def zarr26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append workflow: store created at n/2 rows, grown (pure metadata
    resize, utils/resize.py — the inverse of IO8 trim), second half written
    with read-modify-write landing in the straddled boundary chunk. The full
    scan must reproduce the whole orders-derived column exactly — growth
    neither loses old cells nor corrupts the boundary."""
    path = _append_store(spark, sf_dir)
    from mdio_cpp_spark.sources.reader import scan_array

    return scan_array(spark, path, "val", value_col="val").orderBy("i")


# ------------------------------------------------------- stencil / pooling

_HALO = 2  # stencil half-width


@declared(
    "zarr27_halo_stencil",
    oracle=f"""
    WITH a AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < 8192
    )
    SELECT i,
           CAST(SUM(v_e2) OVER w AS DOUBLE) / (100.0 * COUNT(*) OVER w) AS ma
    FROM a
    WINDOW w AS (ORDER BY i ROWS BETWEEN {_HALO} PRECEDING AND {_HALO} FOLLOWING)
    ORDER BY i
    """,
)
def zarr27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a stored array with NO global window — the halo
    exchange expressed relationally. Each cell is owned by its chunk bucket
    and additionally REPLICATED into the neighbor bucket when it sits within
    the stencil half-width of a chunk boundary; the window then runs
    partitioned by bucket (parallel across chunks) with every neighborhood
    complete, and only owner rows survive. This is the seismic/array
    stencil shape (the reference's examples interpolate across traces,
    examples/real_data_example/src/interpolation.h:22, but its API has no
    windowed compute): scales as one bucket-keyed shuffle where only
    2×halo×n_chunks rows duplicate. Exact integer cents inside the frame so
    both engines emit bit-identical doubles."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    scan = ds.isel(i=(0, 8192)).to_df(spark, "price", value_col="v")
    v_e2 = F.round(F.col("v") * 100).cast("long")
    owner = (F.col("i") / F.lit(CHUNK)).cast("long")
    pos = F.col("i") % F.lit(CHUNK)
    targets = F.array(
        owner,
        F.when(pos < _HALO, owner - 1),
        F.when(pos >= CHUNK - _HALO, owner + 1),
    )
    cells = (
        scan.select("i", v_e2.alias("v_e2"), owner.alias("__own"))
        .select(
            "i", "v_e2", "__own",
            F.explode(F.filter(targets, lambda x: x.isNotNull() & (x >= 0))).alias("__b"),
        )
    )
    w = Window.partitionBy("__b").orderBy("i").rowsBetween(-_HALO, _HALO)
    return (
        cells.withColumn(
            "ma",
            F.sum("v_e2").over(w).cast("double") / (F.lit(100.0) * F.count(F.lit(1)).over(w)),
        )
        .filter(F.col("__b") == F.col("__own"))
        .select("i", "ma")
        .orderBy("i")
    )


@declared(
    "zarr28_pool2d",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row // 2 AS prow, col // 2 AS pcol, COUNT(*) AS n_cells,
           CAST(SUM(v_e2) AS DOUBLE) / (100.0 * COUNT(*)) AS pooled_mean
    FROM cells WHERE row < 64
    GROUP BY prow, pcol ORDER BY prow, pcol
    """,
)
def zarr28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 mean pooling (downsample) of a stored 2-D array — the
    multi-resolution/decimation step of array pipelines. Pure map-side key
    derivation (row>>1, col>>1) then one partial-aggregated shuffle of
    pooled cells; the output is 4× smaller than the input and the plan
    shape is scale-free. Exact integer cents make the pooled means
    bit-identical across engines."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    v_e2 = F.round(F.col("v") * 100).cast("long")
    return (
        ds.isel(row=(0, 64))
        .to_df(spark, "grid", value_col="v")
        .select((F.col("row") / 2).cast("long").alias("prow"),
                (F.col("col") / 2).cast("long").alias("pcol"),
                v_e2.alias("v_e2"))
        .groupBy("prow", "pcol")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.sum("v_e2").cast("double") / (F.lit(100.0) * F.count(F.lit(1)))).alias("pooled_mean"),
        )
        .orderBy("prow", "pcol")
    )


@declared(
    "zarr29_zonemap_filter",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE o_totalprice >= 450000.0
    ORDER BY i
    """,
)
def zarr29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-pruned value scan: a per-chunk [min,max] manifest
    (sources/zonemap.py, built distributed once and published through the
    metadata-commit path — the reference's statsV1 contract at CHUNK
    granularity) prunes a selective value predicate before any chunk bytes
    are read. Chunks whose zone can't satisfy ``price >= 450000`` never get
    a kvstore GET — at cloud latency that's the whole cost of a miss. The
    in-decoder numpy filter still applies inside surviving chunks."""
    root = _main_store(spark, sf_dir)
    zonemap.ensure_chunk_stats(spark, root, "price")
    ds = MdioDataset.open(root)
    return (
        ds.var("price")
        .to_df(spark, value_col="price", value_filter=(">=", 450000.0))
        .orderBy("i")
    )


@declared(
    "zarr30_aligned_corr",
    oracle="""
    WITH a AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS pr, CAST(o_custkey AS DOUBLE) AS ck
      FROM (SELECT o_totalprice, o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < 8192
    )
    SELECT COUNT(*) AS n,
           ROUND(corr(pr, ck), 6) AS corr_pc,
           ROUND(covar_samp(pr, ck), 2) AS cov_pc
    FROM a
    """,
)
def zarr30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-variable statistics over ALIGNED stored arrays (the dimension-
    alignment join, dataset.h:439-447, driving a two-column aggregate):
    price (float64) and hdr.ck (struct field) share the i grid, align via
    to_df_aligned, and corr/covar merge as distributed co-moments — one
    chunk-bucketed join, partial co-moment agg, a 1-row result."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    both = ds.isel(i=(0, 8192)).to_df_aligned(
        spark, {"price": "price", "hdr.ck": "ck"}
    )
    return both.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr(F.col("price"), F.col("ck").cast("double")), 6).alias("corr_pc"),
        F.round(F.covar_samp(F.col("price"), F.col("ck").cast("double")), 2).alias("cov_pc"),
    )


@declared(
    "zarr31_dsv2_write",
    oracle="""
    SELECT CAST(COUNT(v) AS BIGINT) AS cnt, ROUND(SUM(v), 2) AS sum_v,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM (SELECT o_totalprice AS v, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn <= 5000
    """,
)
def zarr31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSv2 write gate: the first 5000 stored prices round-trip through
    ``df.write.format("mdio")`` (Arrow-batched task writes, single-writer-
    per-chunk enforced by the commit protocol) into a fresh array, then the
    DSv2 READER scans the new store and aggregates — both halves of the
    format("mdio") contract produce the answer from stored bytes."""
    from mdio_cpp_spark.sources.datasource import register, repartition_by_chunks

    register(spark)
    base = ensure_stores(spark, sf_dir)
    root = os.path.join(base, "dsv2.zarr")
    try:
        ZarrStore.probe_version(root)
    except FileNotFoundError:
        st = ZarrStore.create(root, version=2)
        st.create_array("v", shape=(5000,), chunks=(CHUNK,), dtype="float64", dims=("i",))
        st.consolidate()
    src = (
        MdioDataset.open(_main_store(spark, sf_dir))
        .isel(i=(0, 5000))
        .to_df(spark, "price", value_col="value")
    )
    (
        repartition_by_chunks(src, root, "v")
        .write.format("mdio").option("path", root).option("variable", "v")
        .mode("append").save()
    )
    back = (
        spark.read.format("mdio")
        .option("path", root).option("variable", "v").option("value_col", "v")
        .load()
    )
    return back.agg(
        F.count("v").alias("cnt"),
        F.round(F.sum("v"), 2).alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr32_stack_newdim",
    oracle="""
    WITH a AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS pr,
             CAST(o_custkey AS DOUBLE) AS ck
      FROM (SELECT o_totalprice, o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < 4096
    )
    SELECT layer, i, v FROM (
      SELECT 0 AS layer, i, pr AS v FROM a
      UNION ALL
      SELECT 1 AS layer, i, ck AS v FROM a
    ) ORDER BY layer, i
    """,
)
def zarr32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stack two same-grid variables along a NEW dimension (the xarray
    ``concat(dim='layer')`` shape; the reference's only concat is same-axis
    slice reassembly, variable.h:1390-1391 — a new-axis stack is the
    upgrade). Relationally: UNION ALL with a layer literal — no shuffle at
    all beyond the output sort; each branch keeps its own pruned chunk
    manifest."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    pr = ds.isel(i=(0, 4096)).to_df(spark, "price", value_col="v").select(
        F.lit(0).cast("int").alias("layer"), "i", "v"
    )
    ck = (
        ds.isel(i=(0, 4096))
        .var("hdr")
        .to_df(spark, fields=["ck"])
        .select(F.lit(1).cast("int").alias("layer"), "i", F.col("ck").cast("double").alias("v"))
    )
    return pr.unionByName(ck).orderBy("layer", "i")


@declared(
    "zarr33_manifest_agg",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt, MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM orders
    """,
)
def zarr33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation: COUNT/MIN/MAX of the stored price array
    answered from the zone-map manifest — O(n_chunks) driver arithmetic,
    ZERO chunk reads (the parquet-footer-stats trick at array scale; the
    reference stores whole-variable statsV1 for the same reason,
    stats.h:229-335, but must precompute it app-side). Falls back to the
    distributed scan when the manifest is absent or any chunk is
    fill-only — correctness never depends on the fast path."""
    root = _main_store(spark, sf_dir)
    zonemap.ensure_chunk_stats(spark, root, "price")
    meta = ZarrStore.open(root).array_meta("price")
    fast = zonemap.aggregate_from_manifest(meta, root)
    if fast is not None:
        cnt, vmin, vmax = fast
        return local_frame(
            spark, [(cnt, float(vmin), float(vmax))], "cnt long, min_v double, max_v double"
        )
    ds = MdioDataset.open(root)
    return ds.to_df(spark, "price", value_col="v").agg(
        F.count("v").alias("cnt"), F.min("v").alias("min_v"), F.max("v").alias("max_v")
    )


@declared(
    "zarr34_pyramid_level",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row // 2 AS row, col // 2 AS col,
           CAST(SUM(v_e2) AS DOUBLE) / (100.0 * COUNT(*)) AS v
    FROM cells WHERE row < 64
    GROUP BY 1, 2 ORDER BY row, col
    """,
)
def zarr34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized multiresolution pyramid: the 2×2 mean-pooled level-1 of
    the stored 2-D grid is COMPUTED distributed (zarr28's plan), WRITTEN
    into a pyramid store through the chunk-aligned writer, and the answer
    scanned back FROM THE STORED LEVEL — the LOD-pyramid lifecycle every
    large-array viewer/training-reader needs (the reference stores single-
    resolution arrays only). Downsample is one pooled shuffle; the write is
    one chunk-keyed shuffle of the 4×-smaller level."""
    base = ensure_stores(spark, sf_dir)
    src = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    v_e2 = F.round(F.col("v") * 100).cast("long")
    pooled = (
        src.isel(row=(0, 64))
        .to_df(spark, "grid", value_col="v")
        .select((F.col("row") / 2).cast("long").alias("row"),
                (F.col("col") / 2).cast("long").alias("col"),
                v_e2.alias("v_e2"))
        .groupBy("row", "col")
        .agg((F.sum("v_e2").cast("double") / (F.lit(100.0) * F.count(F.lit(1)))).alias("v"))
    )
    pyr = os.path.join(base, "pyramid.zarr")
    # the grid's row count adapts to sf (cap 128; zarr23/28 use rows<64) —
    # size level-1 to exactly the pooled extent so the scan-back returns
    # the written region and nothing else
    grid_rows = ZarrStore.open(os.path.join(base, "grid_v2.zarr")).array_meta("grid").shape[0]
    src_rows = min(grid_rows, 64)
    l1_rows = -(-src_rows // 2)  # ceil
    l1_cols = GRID_C // 2
    want_shape = (int(l1_rows), l1_cols)
    try:
        cur = ZarrStore.open(pyr).array_meta("l1").shape
        if tuple(cur) != want_shape:  # testdata regenerated → rebuild store
            ZarrStore.open(pyr).delete()
            raise FileNotFoundError
    except (FileNotFoundError, KeyError):
        import shutil

        shutil.rmtree(pyr, ignore_errors=True)
        st = ZarrStore.create(pyr, version=2)
        st.create_array("l1", shape=want_shape, chunks=(16, 16),
                        dtype="float64", dims=("row", "col"))
        st.consolidate()
    from mdio_cpp_spark.sources.writer import write_array

    write_array(pooled, pyr, "l1", value_cols="v")
    return (
        MdioDataset.open(pyr)
        .to_df(spark, "l1", value_col="v")
        .orderBy("row", "col")
    )


# ------------------------------------------------- partial cell update (RMW)

_RMW_LO, _RMW_HI = 1000, 3000  # straddles the 2048-cell chunk boundary at sf>=0.01


def _rmw_store(spark: SparkSession, sf_dir: str) -> str:
    """Lazily build the RMW fixture: the full orders-derived price column in
    its own store (mutated by zarr35 per run — must never be shared)."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "rmw_v2.zarr")
    marker = os.path.join(base, ".built_rmw_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select("i", F.col("o_totalprice").alias("v"))
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "rmw_mdio"})
        st.create_array("val", shape=(n,), chunks=(CHUNK,),
                        dtype="float64", dims=("i",),
                        compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(ords, path, "val", value_cols="v")
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr35_rmw_update",
    oracle=f"""
    SELECT i, val FROM (
      SELECT CAST(rn - 1 AS BIGINT) AS i,
             CASE WHEN rn - 1 >= {_RMW_LO} AND rn - 1 < {_RMW_HI}
                  THEN -o_totalprice ELSE o_totalprice END AS val
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    ) WHERE i < 5000 ORDER BY i
    """,
)
def zarr35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO5 partial UPDATE gate — the reference's in-place Variable::Write on
    an interior index slice (variable.h:1127-1134: write any region, chunks
    read-modify-written by their single owner task). Cells [1000, 3000) are
    negated — a slice that begins and ends MID-CHUNK, so both edge chunks
    must merge new cells into existing bytes; the full scan-back must show
    updated cells inside the slice and untouched originals outside it.
    The update value is a pure function of the source row (idempotent —
    re-runs converge), and the write is one chunk-keyed shuffle of only the
    updated cells."""
    from mdio_cpp_spark.sources.writer import write_array

    path = _rmw_store(spark, sf_dir)
    upd = (
        _orders_indexed(spark, sf_dir)
        .filter((F.col("i") >= _RMW_LO) & (F.col("i") < _RMW_HI))
        .select("i", (-F.col("o_totalprice")).alias("v"))
    )
    write_array(upd, path, "val", value_cols="v")
    from mdio_cpp_spark.sources.reader import scan_array

    return (
        scan_array(spark, path, "val", ranges={"i": (0, 5000)}, value_col="val")
        .orderBy("i")
    )


# ------------------------------------------------- masking / discrete diff

_MASK_CAP = 30000.0


@declared(
    "zarr36_where_mask",
    oracle=f"""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           CASE WHEN o_totalprice < {_MASK_CAP} THEN o_totalprice ELSE -1.0 END AS val
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 8192 ORDER BY i
    """,
)
def zarr36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``where(cond, other)`` over a stored array: cells failing the
    predicate are replaced by a sentinel instead of dropped (masking, not
    filtering — the shape is preserved). The reference has no masking op
    (its sel/isel only subset, dataset.h:639-786); xarray parity. Pure
    map-side column expression over the pruned chunk scan — zero shuffle
    beyond the gate's output sort."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    scan = ds.isel(i=(0, 8192)).to_df(spark, "price", value_col="v")
    return scan.select(
        "i",
        F.when(F.col("v") < _MASK_CAP, F.col("v")).otherwise(F.lit(-1.0)).alias("val"),
    ).orderBy("i")


@declared(
    "zarr37_diff_dim",
    oracle="""
    SELECT i, val - lag(val) OVER (ORDER BY i) AS d FROM (
      SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS val
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < 8192
    ) ORDER BY i
    """,
)
def zarr37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``diff(dim)`` over a stored array with NO global window: each
    chunk's last cell replicates into the NEXT chunk's bucket (a 1-cell
    halo), lag(1) runs partitioned by bucket with every neighborhood
    complete, and only owner rows survive — first cell's diff is NULL, as
    in xarray. One bucket-keyed shuffle; exactly n_chunks rows duplicate.
    Subtraction of stored doubles is bit-deterministic, so no rounding is
    needed on either side."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    scan = ds.isel(i=(0, 8192)).to_df(spark, "price", value_col="v")
    owner = (F.col("i") / F.lit(CHUNK)).cast("long")
    pos = F.col("i") % F.lit(CHUNK)
    targets = F.array(owner, F.when(pos == CHUNK - 1, owner + 1))
    cells = scan.select(
        "i", "v", owner.alias("__own"),
        F.explode(F.filter(targets, lambda x: x.isNotNull())).alias("__b"),
    )
    w = Window.partitionBy("__b").orderBy("i")
    return (
        cells.withColumn("d", F.col("v") - F.lag("v", 1).over(w))
        .filter(F.col("__own") == F.col("__b"))
        .select("i", "d")
        .orderBy("i")
    )


# ------------------------------------------- coordinate groupby / interp

@declared(
    "zarr38_groupby_coord",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT CAST(col // 8 AS BIGINT) AS bin, COUNT(*) AS n_cells,
           ROUND(SUM(v), 2) / COUNT(*) AS mean_v, ROUND(SUM(v), 2) AS sum_v
    FROM cells WHERE row < 64 GROUP BY 1 ORDER BY bin
    """,
)
def zarr38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``groupby(coordinate).mean()`` over a stored 2-D array: cells
    are grouped by the VALUE of the ``col`` dimension coordinate (read from
    the store, binned div 8), not by the index — the reference can only
    subset by coordinates (sel, dataset.h:639-786), never aggregate by them.
    The 1-D coordinate broadcasts onto the chunk-pruned grid scan (no grid
    shuffle for the join), then one partial agg keyed on the bin — shuffle
    rows = n_bins × partials. (Coordinate values here equal their indices by
    fixture construction; the plan still routes through the stored coordinate
    variable, which is the operator under test.)"""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    cells = ds.isel(row=(0, 64)).to_df(spark, "grid", value_col="v")
    coord = ds.to_df(spark, "col", value_col="cv")
    return (
        cells.join(F.broadcast(coord), on="col")
        .groupBy(F.expr("cv div 8").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.round(F.sum("v"), 2) / F.count(F.lit(1))).alias("mean_v"),
            F.round(F.sum("v"), 2).alias("sum_v"),
        )
        .orderBy("bin")
    )


_INTERP_N = 200  # targets; ry < 21 fits every sf's grid (rows >= 23 at sf0.001)


@declared(
    "zarr39_interp_bilinear",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    ),
    t AS (
      SELECT t, CAST((t * 7) % 210 AS DOUBLE) / 10.0 AS ry,
                CAST((t * 13) % 630 AS DOUBLE) / 10.0 AS cx
      FROM range(0, {_INTERP_N}) r(t)
    ),
    t2 AS (
      SELECT t, CAST(FLOOR(ry) AS BIGINT) AS r0, CAST(FLOOR(cx) AS BIGINT) AS c0,
             ry - FLOOR(ry) AS fy, cx - FLOOR(cx) AS fx
      FROM t
    )
    SELECT t2.t AS t,
           ROUND((1.0 - fy) * (1.0 - fx) * a.v + (1.0 - fy) * fx * b.v
                 + fy * (1.0 - fx) * c.v + fy * fx * d.v, 4) AS val
    FROM t2
    JOIN cells a ON a.row = t2.r0     AND a.col = t2.c0
    JOIN cells b ON b.row = t2.r0     AND b.col = t2.c0 + 1
    JOIN cells c ON c.row = t2.r0 + 1 AND c.col = t2.c0
    JOIN cells d ON d.row = t2.r0 + 1 AND d.col = t2.c0 + 1
    ORDER BY t
    """,
)
def zarr39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear interpolation of a stored 2-D grid at fractional coordinates
    — the reference ships this as driver-side application code over a fully
    read-back array (examples/real_data_example/src/interpolation.h:22);
    here it is a distributed corner-gather: 200 deterministic target points
    explode into 4 weighted corner cells each, broadcast onto the
    chunk-pruned grid scan (rows [0, 22) prunes the row-chunk grid), and a
    4-slot fixed-order weighted sum reassembles per target (operators/
    interp.py — bit-stable, no unordered float accumulation)."""
    from mdio_cpp_spark.operators.interp import bilinear_interp

    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    cells = ds.isel(row=(0, 22)).to_df(spark, "grid", value_col="v")
    targets = spark.range(_INTERP_N).select(
        F.col("id").alias("t"),
        (((F.col("id") * 7) % 210).cast("double") / 10.0).alias("ry"),
        (((F.col("id") * 13) % 630).cast("double") / 10.0).alias("cx"),
    )
    return bilinear_interp(cells, targets).orderBy("t")


# ------------------------------------------- shift / roll / stack / weights

_SHIFT_N = 100   # cells to shift/roll by
_SHIFT_CAP = 5000  # output slice bound (clamped to the array length)


@declared(
    "zarr40_shift_roll",
    oracle=f"""
    WITH src AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM orders)
    SELECT r.j AS i, sh.v AS shifted, ro.v AS rolled
    FROM range(0, {_SHIFT_CAP}) r(j) CROSS JOIN n
    LEFT JOIN src sh ON sh.i = r.j - {_SHIFT_N}
    JOIN src ro ON ro.i = (r.j - {_SHIFT_N} + nn) % nn
    WHERE r.j < LEAST({_SHIFT_CAP}, nn)
    ORDER BY i
    """,
)
def zarr40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``shift(dim, n)`` / ``roll(dim, n)`` over a stored array with
    ZERO shuffle: both are pure index remaps, so the plan re-keys each
    scanned cell to its destination index map-side (j = i + n, wrapped for
    roll) instead of windowing. shift's vacated head is the wrap slice with
    a NULL value — xarray's fill semantics — so the output is one union of
    two chunk-pruned scans: the body ([0, cap-n), which serves both
    measures) and the n-cell tail wrap. Only the cells that land in the
    output slice are ever read; no lag(), no sort until the gate's output
    ORDER BY. (The reference has no shift/roll; its closest op is the
    index-transform slice, variable.h:1339-1354.)"""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    n = ds.domain()["i"]
    cap = min(_SHIFT_CAP, n)
    body = (
        ds.isel(i=(0, cap - _SHIFT_N))
        .to_df(spark, "price", value_col="v")
        .select(
            (F.col("i") + _SHIFT_N).alias("i"),
            F.col("v").alias("shifted"),
            F.col("v").alias("rolled"),
        )
    )
    wrap = (
        ds.isel(i=(n - _SHIFT_N, n))
        .to_df(spark, "price", value_col="v")
        .select(
            (F.col("i") - (n - _SHIFT_N)).alias("i"),
            F.lit(None).cast("double").alias("shifted"),
            F.col("v").alias("rolled"),
        )
    )
    return body.unionByName(wrap).orderBy("i")


@declared(
    "zarr41_stack_unstack",
    oracle=f"""
    SELECT CAST(rn - 1 AS BIGINT) AS z,
           CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
           CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
           o_totalprice AS v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 100 AND rn - 1 < 300
    ORDER BY z
    """,
)
def zarr41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``stack(z=(row, col))`` + slice + ``unstack`` over the stored
    2-D grid: the flat index z = row·C + col is a map-side expression, and —
    the part that matters at scale — a z-range predicate UNSTACKS INTO
    CHUNK PRUNING: [100, 300) touches only row chunks [100//C, 299//C], so
    the scan reads those rows' chunks and nothing else, then re-derives
    (row, col) from z to prove the round-trip. The reference's index
    transforms never linearize dims; this is the flattened-view upgrade
    (variable.h:1920-1931 get_flattened_offset is its only flat-index
    concept, driver-side)."""
    lo, hi = 100, 300
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    r0, r1 = lo // GRID_C, (hi - 1) // GRID_C + 1
    cells = ds.isel(row=(r0, r1)).to_df(spark, "grid", value_col="v")
    z = (F.col("row") * GRID_C + F.col("col")).alias("z")
    return (
        cells.select(z, "row", "col", "v")
        .filter((F.col("z") >= lo) & (F.col("z") < hi))
        .orderBy("z")
    )


@declared(
    "zarr42_weighted_mean",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row,
           CAST(SUM(v_e2 * (col + 1)) AS DOUBLE) / (100.0 * SUM(col + 1)) AS wmean,
           CAST(SUM(col + 1) AS BIGINT) AS wsum
    FROM cells WHERE row < 64
    GROUP BY row ORDER BY row
    """,
)
def zarr42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``weighted(w).mean(dim)`` over the stored 2-D grid: per-row
    mean weighted by a function of the ``col`` dimension COORDINATE (w =
    cv + 1, read from the stored coordinate variable like zarr38 — the
    operator under test is the coordinate route, not the arithmetic). The
    1-D coordinate broadcasts onto the chunk-pruned scan; products stay in
    exact integer fixed-point (v_e2·w) so the partial aggregation is
    order-independent, and the single division happens after the agg.
    Shuffle carries one partial per (row, partition) — never cells."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    cells = ds.isel(row=(0, 64)).to_df(spark, "grid", value_col="v")
    coord = ds.to_df(spark, "col", value_col="cv")
    w = F.col("cv") + 1
    v_e2 = F.round(F.col("v") * 100).cast("long")
    return (
        cells.join(F.broadcast(coord), on="col")
        .select("row", (v_e2 * w).alias("vw"), w.alias("w"))
        .groupBy("row")
        .agg(
            (F.sum("vw").cast("double") / (F.lit(100.0) * F.sum("w"))).alias("wmean"),
            F.sum("w").alias("wsum"),
        )
        .orderBy("row")
    )


@declared(
    "zarr43_axis_argmax",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row, CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    ),
    m AS (SELECT row, MAX(v_e2) AS mv_e2 FROM cells WHERE row < 64 GROUP BY row)
    SELECT cells.row AS row, CAST(MIN(col) AS BIGINT) AS amax_col,
           CAST(mv_e2 AS DOUBLE) / 100.0 AS max_v
    FROM cells JOIN m ON cells.row = m.row AND cells.v_e2 = m.mv_e2
    GROUP BY cells.row, mv_e2 ORDER BY row
    """,
)
def zarr43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``argmax(dim='col')`` over the stored 2-D grid: per-row index
    of the maximum cell, ties broken to the SMALLEST index (xarray's rule —
    plain max_by would be nondeterministic under parallel ties). One
    partial-aggregatable pass: maximize the lexicographic pair
    (v_e2, -col) — exact integer compare, order-independent — then unpack;
    no join-back, no window. The reference ships argmax only as driver-side
    example code over a fully read array (examples/seismic_reader/
    main.cc:71-127, S2 row); this is its distributed per-axis form."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    v_e2 = F.round(F.col("v") * 100).cast("long")
    best = F.max(F.struct(v_e2.alias("v"), (-F.col("col")).alias("negcol")))
    return (
        ds.isel(row=(0, 64))
        .to_df(spark, "grid", value_col="v")
        .groupBy("row")
        .agg(best.alias("b"))
        .select(
            "row",
            (-F.col("b.negcol")).alias("amax_col"),
            (F.col("b.v").cast("double") / 100.0).alias("max_v"),
        )
        .orderBy("row")
    )


# ------------------------------------------- datetime dimension coordinate

_TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_TS_HOUR_US = 3_600_000_000


def _ts_store(spark: SparkSession, sf_dir: str) -> str:
    """Time-indexed store: dimension ``t`` whose coordinate is a datetime64
    array (base + i hours — strictly increasing, so sel endpoints are
    unique), value = the orders price column. Own marker — does not
    invalidate the BUILD_TAG fixture cache."""
    from mdio_cpp_spark.sources.writer import write_arrays

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "timeseries.zarr")
    marker = os.path.join(base, ".built_ts_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            F.col("i").alias("t"),
            F.timestamp_micros(
                F.lit(_TS_BASE_US) + F.col("i") * _TS_HOUR_US
            ).alias("tv"),
            F.col("o_totalprice").alias("v"),
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "timeseries_mdio"})
        st.create_array("t", shape=(n,), chunks=(CHUNK,),
                        dtype=np.dtype("<M8[us]"), dims=("t",),
                        compressor={"id": "zlib", "level": 1})
        st.create_array("price", shape=(n,), chunks=(CHUNK,),
                        dtype="float64", dims=("t",),
                        compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_arrays(ords, path, {"t": "tv", "price": "v"})
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr44_sel_datetime",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS t,
           STRFTIME(TIMESTAMP '2024-01-01 00:00:00' + (rn - 1) * INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS tv,
           o_totalprice AS v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 96 AND rn - 1 <= 264
    ORDER BY t
    """,
)
def zarr44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based ``sel`` on a DATETIME dimension coordinate — xarray's
    time slicing (``ds.sel(t=slice('2024-01-05', '2024-01-12'))``). The
    reference cannot even open datetime arrays (numpy kind M is
    header-only, zarr_v2.h:139-162); here the coordinate is a stored
    datetime64 array, the driver-side value→index translation follows the
    reference's exact-unique-endpoint range semantics (dataset.h:787-885,
    stop-inclusive), and the resulting index range prunes chunks like any
    isel. Output re-reads the coordinate through the aligned scan to prove
    the round-trip."""
    import numpy as np

    ds = MdioDataset.open(_ts_store(spark, sf_dir))
    lo = np.datetime64("2024-01-05T00:00:00", "us")   # index 96
    hi = np.datetime64("2024-01-12T00:00:00", "us")   # index 264
    out = ds.sel(t=(lo, hi)).to_df_aligned(spark, {"price": "v", "t": "tv"})
    return out.select(
        "t", F.date_format("tv", "yyyy-MM-dd HH:mm:ss").alias("tv"), "v"
    ).orderBy("t")


@declared(
    "zarr45_resample_time",
    oracle=f"""
    SELECT STRFTIME(TIMESTAMP '2024-01-01 00:00:00'
                    + CAST((rn - 1) // 24 AS BIGINT) * INTERVAL 1 DAY,
                    '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / (100.0 * COUNT(*)) AS mean_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 1344
    GROUP BY (rn - 1) // 24 ORDER BY day
    """,
)
def zarr45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``resample(t='1D').mean()`` over the time-indexed store: the
    hourly series groups into calendar days BY THE DATETIME COORDINATE
    (date_trunc on the stored datetime64 array, not index arithmetic — the
    operator under test is the coordinate route), sliced to the first 8
    weeks [0, 1344) so the slice prunes chunks first. Means stay exact:
    fixed-point integer sums with one division after the partial agg;
    shuffle carries one partial per (day, partition)."""
    ds = MdioDataset.open(_ts_store(spark, sf_dir))
    out = ds.isel(t=(0, 1344)).to_df_aligned(spark, {"price": "v", "t": "tv"})
    v_e2 = F.round(F.col("v") * 100).cast("long")
    return (
        out.select(F.date_trunc("day", F.col("tv")).alias("d"), v_e2.alias("v_e2"))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("v_e2").cast("double") / (F.lit(100.0) * F.count(F.lit(1)))).alias("mean_v"),
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "n", "mean_v")
        .orderBy("day")
    )


# ------------------------------------------------------- small-dtype matrix

def _dtype_store(spark: SparkSession, sf_dir: str) -> str:
    """bool / int8 / float16 arrays in one store — the §1.2 dtype-matrix
    rows with no other gate. The float16 values are chosen exactly
    representable in half precision ((k % 2048) / 4), so the widen-to-f32
    decode is lossless and SQL-comparable. Own marker — does not invalidate
    the BUILD_TAG fixture cache."""
    from mdio_cpp_spark.sources.writer import write_arrays

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "dtypes.zarr")
    marker = os.path.join(base, ".built_dtypes_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i",
            (F.col("o_orderkey") % 2 == 0).alias("flagv"),
            ((F.col("o_orderkey") % 100) - 50).cast("byte").alias("i8v"),
            ((F.col("o_orderkey") % 2048).cast("double") / 4.0).alias("f2v"),
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "dtypes_mdio"})
        for name, dt in (("flag", "|b1"), ("i8", "<i1"), ("f2", "<f2")):
            st.create_array(name, shape=(n,), chunks=(CHUNK,),
                            dtype=np.dtype(dt), dims=("i",),
                            compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_arrays(ords, path, {"flag": "flagv", "i8": "i8v", "f2": "f2v"})
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr46_dtype_matrix",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           (o_orderkey % 2 = 0) AS flag,
           CAST((o_orderkey % 100) - 50 AS TINYINT) AS i8,
           CAST(o_orderkey % 2048 AS DOUBLE) / 4.0 AS f2
    FROM (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 3000
    ORDER BY i
    """,
)
def zarr46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 small-dtype matrix round-trip: bool (|b1), int8 (<i1) and
    float16 (<f2) arrays written chunk-aligned and scanned back through the
    pruned path — float16 widens to float32 on decode (reader's documented
    widening, impl.h:163-179 maps no Spark half type) with values chosen
    exactly representable so the gate is lossless. Complements zarr11
    (complex), zarr15 (uint64), zarr06/21 (struct), zarr20
    (string/datetime): every §1.2 dtype row now has a stored-array gate."""
    ds = MdioDataset.open(_dtype_store(spark, sf_dir))
    out = ds.isel(i=(0, 3000)).to_df_aligned(
        spark, {"flag": "flag", "i8": "i8", "f2": "f2"}
    )
    return out.select(
        "i", "flag", "i8", F.col("f2").cast("double").alias("f2")
    ).orderBy("i")


@declared(
    "zarr47_gather_indices",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS v FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE (rn - 1) % 97 = 13 AND rn - 1 < 9000
    ORDER BY i
    """,
)
def zarr47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise fancy-index gather — xarray ``isel(i=[array of ints])``,
    the random-access read a training loader issues for a sample of rows
    (the reference's vector-isel takes ≤32 contiguous ranges,
    impl.h:181-186; arbitrary index lists are the upgrade). Plan: the
    requested ids (i ≡ 13 mod 97, i < 9000 — a deterministic scatter that
    touches EVERY chunk) collapse driver-side into covering ranges only to
    prune chunks; the exact membership test is a broadcast semi-join of the
    id list onto the pruned scan, so cells outside the list are dropped
    JVM-side without per-range scan fragments (93 point-ranges would mean
    93 sub-scans via isel_multi; one pruned scan + semi-join reads each
    chunk once). For an id list too large to broadcast, the same shape
    becomes a shuffle semi-join keyed on the dim — the scan side is
    unchanged."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    n = ds.domain()["i"]
    hi = min(9000, n)
    ids = list(range(13, hi, 97))
    # covering range prunes chunks; exact membership via broadcast semi-join
    scan = ds.isel(i=(ids[0], ids[-1] + 1)).to_df(spark, "price", value_col="v")
    want = spark.range(13, hi, 97).select(F.col("id").alias("i"))
    return scan.join(F.broadcast(want), "i", "left_semi").orderBy("i")


# ------------------------------------------------------------- 2-D RMW write

_RMW2_R = (5, 20)    # interior row band (fits the smallest sf's 23-row grid)
_RMW2_C = (10, 50)   # col band straddling the 32-col chunk boundary


def _rmw2d_store(spark: SparkSession, sf_dir: str) -> str:
    """Dedicated 2-D grid for the in-place update gate (zarr48 mutates it
    per run — never shared with the read-only grid_v2 gates)."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "rmw2d.zarr")
    marker = os.path.join(base, ".built_rmw2d_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir)
        n = ords.count()
        rows = min(n // GRID_C, 64)
        st = ZarrStore.create(path, version=2, attrs={"name": "rmw2d_mdio"})
        st.create_array("g", shape=(rows, GRID_C), chunks=(32, 32),
                        dtype="float64", dims=("row", "col"),
                        compressor={"id": "zlib", "level": 1})
        cells = ords.filter(F.col("i") < rows * GRID_C).select(
            F.expr(f"i div {GRID_C}").alias("row"),
            (F.col("i") % GRID_C).alias("col"),
            F.col("o_totalprice").alias("v"),
        )
        st.consolidate()
        write_array(cells, path, "g", value_cols="v")
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr48_rmw_2d",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 64) AS rows_)
    SELECT row, col,
           CASE WHEN row >= {_RMW2_R[0]} AND row < {_RMW2_R[1]}
                 AND col >= {_RMW2_C[0]} AND col < {_RMW2_C[1]}
                THEN -v ELSE v END AS v
    FROM (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    ORDER BY row, col
    """,
)
def zarr48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO5 partial update in TWO dimensions: an interior rectangle (rows
    [5,20) × cols [10,50)) of a stored 2-D grid is negated in place — the
    col band straddles the 32-col chunk boundary, so FOUR edge chunks must
    merge new cells into existing bytes along both axes (the 2-D form of
    zarr35's mid-chunk contract; the reference's Variable::Write accepts
    any region, variable.h:1127-1134, with single-owner chunk RMW). The
    update is a pure function of the source cell (idempotent — re-runs
    converge) and ships only the rectangle's cells through one chunk-keyed
    shuffle; the full scan-back must show updated cells inside the
    rectangle and untouched originals everywhere else."""
    from mdio_cpp_spark.sources.writer import write_array

    path = _rmw2d_store(spark, sf_dir)
    ds = MdioDataset.open(path)
    upd = (
        ds.isel(row=_RMW2_R, col=_RMW2_C)
        .to_df(spark, "g", value_col="v")
        .select("row", "col", (-F.abs(F.col("v"))).alias("v"))
    )
    write_array(upd, path, "g", value_cols="v")
    return MdioDataset.open(path).to_df(spark, "g", value_col="v").orderBy("row", "col")


def _evolve_store(spark: SparkSession, sf_dir: str) -> str:
    """Dataset-evolution fixture: starts as a copy of the price column,
    then zarr49 ADDS a second variable to the live store. Own marker."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "evolve.zarr")
    marker = os.path.join(base, ".built_evolve_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select("i", F.col("o_totalprice").alias("v"))
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "evolve_mdio"})
        st.create_array("price", shape=(n,), chunks=(CHUNK,),
                        dtype="float64", dims=("i",),
                        compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr49_add_variable",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price,
           CAST(o_orderkey % 5 AS BIGINT) AS bucket
    FROM (SELECT o_totalprice, o_orderkey,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 6000
    ORDER BY i
    """,
)
def zarr49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset EVOLUTION: add a variable to an existing live store (the
    xarray ``assign`` / ALTER TABLE ADD COLUMN analog — the reference can
    only create a dataset's full variable set up front via from_json,
    dataset.h:312-403). A new chunk-grid-aligned array is declared on the
    opened store, populated through the chunk-aligned writer (one shuffle),
    the consolidated metadata republished, and a fresh open must see BOTH
    variables and align them on the shared dimension — existing data
    untouched, no rewrite of the original array. Idempotent: re-runs
    rewrite the same derived cells."""
    path = _evolve_store(spark, sf_dir)
    st = ZarrStore.open(path)
    if "bucket" not in st.arrays():
        n = st.array_meta("price").shape[0]
        st.create_array("bucket", shape=(n,), chunks=(CHUNK,),
                        dtype="int64", dims=("i",),
                        compressor={"id": "zlib", "level": 1})
        st.consolidate()
    newcol = _orders_indexed(spark, sf_dir).select(
        "i", (F.col("o_orderkey") % 5).alias("b")
    )
    from mdio_cpp_spark.sources.writer import write_array

    write_array(newcol, path, "bucket", value_cols="b")
    ds = MdioDataset.open(path)
    assert set(ds.list_variables()) >= {"price", "bucket"}
    return (
        ds.isel(i=(0, 6000))
        .to_df_aligned(spark, {"price": "price", "bucket": "bucket"})
        .orderBy("i")
    )


@declared(
    "zarr50_dsv2_value_pushdown",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE o_totalprice >= 450000.0
    ORDER BY i
    """,
)
def zarr50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-predicate pushdown through the SQL surface: a plain
    ``.filter("value >= …")`` on ``spark.read.format("mdio")`` reaches the
    reader's pushFilters, is CONSUMED (decoder-exact numpy mask, rows never
    cross the Arrow boundary), and — because the array carries zone-map
    stats — prunes incompatible chunks before the byte GET. zarr29's
    pruning semantics, but driven entirely by Catalyst instead of the
    engine-native ``value_filter`` API (the parquet-filter-pushdown UX at
    Zarr-chunk granularity)."""
    from mdio_cpp_spark.sources.datasource import register

    root = _main_store(spark, sf_dir)
    zonemap.ensure_chunk_stats(spark, root, "price")
    register(spark)
    return (
        spark.read.format("mdio")
        .option("path", root).option("variable", "price")
        .load()
        .filter(F.col("value") >= 450000.0)
        .select("i", F.col("value").alias("price"))
        .orderBy("i")
    )


@declared(
    "zarr51_blosc_zlib_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM orders
    """,
)
def zarr51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blosc-compressed store round-trip with NO blosc wheel: chunks are
    encoded/decoded by the engine's blosc1 frame codec (sources/blosc1.py,
    public c-blosc frame format, cname=zlib + byte-shuffle) — the
    reference's ONLY accepted codec family (dataset_factory.h:295-297,
    344-346), so a store written with the reference's blosc-zlib config is
    readable here as-is. Store built once (own marker), then a distributed
    full scan aggregates count/sum/min/max against the orders oracle."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "blosc.zarr")
    marker = os.path.join(base, ".built_blosc_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "blosc_mdio"})
        st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64", dims=("i",),
            compressor={"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1},
        )
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


_Z52_IDX = (3, 17, 256, 257, 999, 1300)


@declared(
    "zarr52_dsv2_in_pushdown",
    oracle=f"""
    SELECT CAST(rn - 1 AS BIGINT) AS i, o_totalprice AS price FROM
      (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 IN {_Z52_IDX}
    ORDER BY i
    """,
)
def zarr52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scattered-index selection through the SQL surface: ``i IN (…)`` on
    the DSv2 read is consumed by pushFilters into an EXPLICIT member-chunk
    plan — only chunks containing a listed index are planned (the isel_multi
    / multi-range semantics of Q3, but driven by Catalyst), and rows mask to
    the members inside the decoder. A 6-element IN over a petascale grid
    plans ≤ 6 chunks, not the grid."""
    from mdio_cpp_spark.sources.datasource import register

    root = _main_store(spark, sf_dir)
    register(spark)
    return (
        spark.read.format("mdio")
        .option("path", root).option("variable", "price")
        .load()
        .filter(F.col("i").isin(*_Z52_IDX))
        .select("i", F.col("value").alias("price"))
        .orderBy("i")
    )


@declared(
    "zarr53_dsv2_multivar_fused",
    oracle="""
    SELECT CAST(o_custkey % 10 AS BIGINT) AS g,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1 ORDER BY g
    """,
)
def zarr53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUSED multi-variable read through the SQL surface:
    ``option("variables", "price,hdr.ck")`` decodes both aligned arrays in
    ONE scan task per chunk — the dimension-alignment join (zarr30's plan)
    collapses into the scan, so a cross-variable aggregate costs zero join
    exchange. At 100 TB the join route shuffles every cell of every
    variable; this plan shuffles only the groupBy's partial aggregates."""
    from mdio_cpp_spark.sources.datasource import register

    root = _main_store(spark, sf_dir)
    register(spark)
    df = (
        spark.read.format("mdio")
        .option("path", root).option("variables", "price,hdr.ck")
        .load()
    )
    return (
        df.groupBy((F.col("ck") % 10).cast("long").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).alias("total"),
        )
        .orderBy("g")
    )


@declared(
    "zarr54_coarsen_trim",
    oracle="""
    SELECT CAST((rn - 1) // 3 AS BIGINT) AS g,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 300.0 AS v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    GROUP BY 1 HAVING COUNT(*) = 3
    ORDER BY g
    """,
)
def zarr54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``coarsen(i=3, boundary='trim').mean()`` over the stored
    price array: non-overlapping window-3 means, the ragged tail window
    DROPPED (trim semantics). One chunk-pruned scan + one partial-
    aggregatable groupBy on ``i div 3`` — block reduction is pure integer
    key arithmetic, no window, no shuffle beyond the groupBy. Means are
    exact fixed-point (cents-integer sums / 300), so the hash is
    bit-stable at any parallelism."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    df = ds.to_df(spark, "price", value_col="v")
    return (
        df.groupBy(F.expr("i div 3").alias("g"))
        .agg(
            (F.sum(F.round(F.col("v") * 100).cast("long")).cast("double") / 300.0).alias("v"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") == 3)
        .drop("__n")
        .orderBy("g")
    )


@declared(
    "zarr55_ffill",
    oracle="""
    WITH base AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i,
             CASE WHEN (rn - 1) % 7 <> 0 THEN o_totalprice END AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    )
    SELECT i, last_value(v IGNORE NULLS) OVER (
             ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
    FROM base ORDER BY i
    """,
)
def zarr55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``ffill('i')`` over a stored gappy series with NO global
    window (the LOCF analog of zarr24's prefix sum): every 7th cell is
    unwritten (fill=NaN → NULL at the Arrow boundary). Phase 1: in-chunk
    LOCF via a window partitioned by chunk id — thousands of parallel
    partitions. Phase 2: each chunk's LAST non-null value (a |chunks|-row
    aggregate) cumulates over a chunk-id-only window and joins back
    broadcast; ffill = coalesce(in-chunk carry, previous-chunk carry).
    Store built once (own marker) through the distributed writer."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "ffill.zarr")
    marker = os.path.join(base, ".built_ffill_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "ffill_mdio"})
        st.create_array("v", shape=(n,), chunks=(CHUNK,), dtype="float64",
                        dims=("i",), fill=float("nan"),
                        compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(ords.filter(F.col("i") % 7 != 0), path, "v", value_cols="v")
        with open(marker, "w") as f:
            f.write("1")
    from mdio_cpp_spark.operators.gapfill import fill_gaps

    ds = MdioDataset.open(path)
    df = ds.to_df(spark, "v", value_col="v")
    return fill_gaps(df, "i", "v", bucket_size=CHUNK).orderBy("i")


@declared(
    "zarr56_transcode",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM orders
    """,
)
def zarr56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec MIGRATION: the blosc-zlib store (zarr51) transcodes into a
    plain-zlib store — one lazy range over chunk ids, each task
    decode→re-encode→write at the SAME coordinates. Identical grids on
    both sides make the copy embarrassingly parallel: ZERO shuffle, no
    driver materialization, fill-only chunks skipped (sparsity free) —
    the plan a fleet-wide 100-TB codec migration needs (the reference
    fixes the codec at creation; migrating means an app-side rewrite).
    The scan-back aggregate of the DESTINATION store gates the bytes."""
    from mdio_cpp_spark.utils.transcode import transcode_array

    zarr51(spark, sf_dir).collect()  # ensure the blosc source store exists
    base = ensure_stores(spark, sf_dir)
    src = os.path.join(base, "blosc.zarr")
    dst = os.path.join(base, "transcoded.zarr")
    marker = os.path.join(base, ".built_transcode_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(dst, ignore_errors=True)
        report = transcode_array(
            spark, src, dst, "price", {"id": "zlib", "level": 5}
        )
        assert report["chunks_copied"] > 0
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(dst)
    return ds.to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr57_bfill_limit",
    oracle="""
    WITH base AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i,
             CASE WHEN (rn - 1) % 7 <> 0 THEN o_totalprice END AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    ),
    d AS (
      SELECT i, v,
             first_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS) OVER w AS dx,
             first_value(v IGNORE NULLS) OVER w AS dv
      FROM base
      WINDOW w AS (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT i, CASE WHEN v IS NOT NULL THEN v WHEN dx - i <= 3 THEN dv END AS v
    FROM d ORDER BY i
    """,
)
def zarr57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``bfill('i', limit=3)`` over the same gappy stored series as
    zarr55: next-observation-carried-BACKWARD, donors farther than 3
    positions masked back to NULL. The operator mirrors the index axis
    (negation) and reuses the LOCF machinery verbatim — in-chunk windows
    partition on chunk id, the cross-chunk carry is one row per chunk —
    so the backward fill inherits the forward fill's scale shape."""
    from mdio_cpp_spark.operators.gapfill import fill_gaps

    zarr55(spark, sf_dir)  # builds the shared gappy store (marker-gated)
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "ffill.zarr"))
    df = ds.to_df(spark, "v", value_col="v")
    return fill_gaps(
        df, "i", "v", bucket_size=CHUNK, direction="backward", limit=3
    ).orderBy("i")


@declared(
    "zarr58_zonemap_2d",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row, col, v FROM cells WHERE v >= 450000.0 ORDER BY row, col
    """,
)
def zarr58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning at RANK 2: the sidecar manifest over the 2-D grid
    store (32×32 chunks) — chunk coordinates ravel through the full grid
    into sidecar entries, and a selective value predicate skips whole chunk
    RECTANGLES before any byte read. Same machinery as zarr29/zarr50, now
    exercising the multi-dimensional linear-id path end-to-end."""
    base = ensure_stores(spark, sf_dir)
    grid = os.path.join(base, "grid_v2.zarr")
    zonemap.ensure_chunk_stats(spark, grid, "grid")
    ds = MdioDataset.open(grid)
    return (
        ds.var("grid")
        .to_df(spark, value_col="v", value_filter=(">=", 450000.0))
        .orderBy("row", "col")
    )


@declared(
    "zarr59_cummax",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           MAX(o_totalprice) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS run_max
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    QUALIFY rn - 1 < 8192
    ORDER BY i
    """,
)
def zarr59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running MAX over a stored array (xarray ``cummax``) — zarr24's
    chunk-bucketed ``bucketed_prefix`` with max as the monoid; exact (max
    has no accumulation-order drift at all)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    scan = ds.isel(i=(0, 8192)).to_df(spark, "price", value_col="v")
    tagged = scan.withColumn("__b", (F.col("i") / F.lit(CHUNK)).cast("long"))
    return (
        bucketed_prefix(tagged, "run_max", "max", buckets=["__b"], order=["i"], value="v")
        .select("i", "run_max")
        .orderBy("i")
    )


@declared(
    "zarr60_rank_axis",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
    SELECT row, col,
           CAST(RANK() OVER (PARTITION BY row ORDER BY v, col) AS BIGINT) AS rk
    FROM cells WHERE row < 8 ORDER BY row, col
    """,
)
def zarr60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``rank(dim='col')`` over the stored 2-D grid: each cell's
    rank among its ROW's values — one window PARTITIONED BY the surviving
    dimension (every row ranks in parallel; the partition count is the
    remaining-dim cardinality, never one), over the chunk-pruned slice.
    Ties break on the col index so the answer is total-order exact."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    df = ds.isel(row=(0, 8)).to_df(spark, "grid", value_col="v")
    from pyspark.sql import Window as W

    w = W.partitionBy("row").orderBy("v", "col")
    return (
        df.withColumn("rk", F.rank().over(w).cast("long"))
        .select("row", "col", "rk")
        .orderBy("row", "col")
    )


# Shared oracle CTE for the 2-D grid in exact integer cents: the stored grid
# is o_totalprice row-major (GRID_C columns), and every query below keeps its
# arithmetic in integer cents until ONE final double division — so Spark and
# DuckDB emit bit-identical doubles with no rounding step at all.
_CELLS_CENTS = f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    )
"""


def _grid_cents(spark: SparkSession, sf_dir: str, n_rows: int) -> DataFrame:
    """Chunk-pruned scan of the 2-D grid's first ``n_rows`` rows with the
    value column lifted to exact integer cents."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    df = ds.isel(row=(0, n_rows)).to_df(spark, "grid", value_col="v")
    return df.select("row", "col", F.round(F.col("v") * 100).cast("long").alias("c"))


@declared(
    "zarr61_median_axis",
    oracle=_CELLS_CENTS + """
    SELECT row, quantile_cont(c, 0.5) / 100.0 AS med
    FROM cells WHERE row < 16 GROUP BY row ORDER BY row
    """,
)
def zarr61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``quantile(0.5, dim='col')`` over the stored 2-D grid: the
    exact interpolated median of each row. One partial-aggregated groupBy
    on the surviving dimension over the chunk-pruned slice — no global
    sort, no window. Exactness: the interpolation runs on integer cents
    (midpoints land on .5 exactly), then ONE division by 100 — both
    engines perform the identical double op, so no rounding is needed.
    At 100 TB the reduce is (surviving-dim cardinality) keys wide and the
    exact per-key sort is bounded by the reduced axis length; for a huge
    reduced axis switch to approx_percentile (a09's sketch path)."""
    cells = _grid_cents(spark, sf_dir, 16)
    return (
        cells.groupBy("row")
        .agg((F.percentile("c", F.lit(0.5)) / 100.0).alias("med"))
        .orderBy("row")
    )


@declared(
    "zarr62_integrate",
    oracle=_CELLS_CENTS + """
    SELECT row,
           (2 * SUM(c) - arg_min(c, col) - arg_max(c, col)) / 200.0 AS integ
    FROM cells WHERE row < 16 GROUP BY row ORDER BY row
    """,
)
def zarr62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``integrate(coord='col')`` — trapezoidal integration along an
    axis with unit spacing: sum minus half the endpoints, i.e.
    ``(2*sum - first - last) / 2``. All-integer agg (sum + min_by/max_by on
    the coordinate) keyed on the surviving dimension, then one double
    division — bit-exact across engines. The reference stops at
    whole-variable SummaryStats (stats.h:229-335); this is the axis-wise
    calculus op a seismic/array user reaches for next."""
    cells = _grid_cents(spark, sf_dir, 16)
    return (
        cells.groupBy("row")
        .agg(
            (
                (2 * F.sum("c") - F.min_by("c", "col") - F.max_by("c", "col"))
                / 200.0
            ).alias("integ")
        )
        .orderBy("row")
    )


@declared(
    "zarr63_trend_axis",
    oracle=_CELLS_CENTS + """
    SELECT row,
           (COUNT(*) * SUM(col * c) - SUM(col) * SUM(c))
           / ((COUNT(*) * SUM(col * col) - SUM(col) * SUM(col)) * 100.0) AS slope
    FROM cells WHERE row < 16 GROUP BY row ORDER BY row
    """,
)
def zarr63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``polyfit(dim='col', deg=1)`` — per-row OLS trend of value vs
    the col coordinate. The normal-equation slope is computed from four
    INTEGER sums (n, Σx, Σxc, Σx²) so the only floating-point op is the
    final division: bit-identical across engines, no rounding. One
    map-side-combined groupBy on the surviving dim; at 100 TB this is a
    single reduce of 4 longs per key — the cheapest possible trend scan
    (ml01 is the table-relational twin via covar/var)."""
    cells = _grid_cents(spark, sf_dir, 16)
    n = F.count(F.lit(1))
    sx = F.sum("col")
    sxc = F.sum(F.col("col") * F.col("c"))
    sxx = F.sum(F.col("col") * F.col("col"))
    sc = F.sum("c")
    return (
        cells.groupBy("row")
        .agg(((n * sxc - sx * sc) / ((n * sxx - sx * sx) * 100.0)).alias("slope"))
        .orderBy("row")
    )


@declared(
    "zarr64_anomaly",
    oracle=_CELLS_CENTS + """
    SELECT row, col,
           (c * COUNT(*) OVER (PARTITION BY row)
            - SUM(c) OVER (PARTITION BY row))
           / (100.0 * COUNT(*) OVER (PARTITION BY row)) AS anom
    FROM cells WHERE row < 8 ORDER BY row, col
    """,
)
def zarr64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Climatology anomaly (xarray ``ds - ds.mean(dim='col')``): each cell
    minus its row mean, the de-meaning every geo/seismic pipeline applies
    before correlation. Expressed as ``(c*n - Σc) / (100*n)`` so the
    numerator stays integer-exact and ONE division produces bit-identical
    doubles. One unbounded window partitioned by the surviving dimension —
    parallel across rows, no global window (the plan-quality gate's
    contract); at 100 TB the row-mean side could equally be a groupBy +
    broadcast join back."""
    cells = _grid_cents(spark, sf_dir, 8)
    w = Window.partitionBy("row")
    return (
        cells.select(
            "row",
            "col",
            (
                (F.col("c") * F.count(F.lit(1)).over(w) - F.sum("c").over(w))
                / (100.0 * F.count(F.lit(1)).over(w))
            ).alias("anom"),
        )
        .orderBy("row", "col")
    )


@declared(
    "zarr65_concat_stores",
    oracle="""
    WITH k AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT), 3000) AS k),
    o AS (SELECT o_totalprice AS price,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS i
          FROM orders)
    SELECT CAST(i AS BIGINT) AS i, price FROM o WHERE i < (SELECT k FROM k)
    UNION ALL
    SELECT CAST(i + (SELECT k FROM k) AS BIGINT) AS i, price
    FROM o WHERE i < (SELECT k FROM k)
    ORDER BY i
    """,
)
def zarr65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``concat([a, b], dim='i')`` across STORES — and across zarr
    versions: the v2 store's price slice concatenated with the v3 store's,
    the second operand re-indexed past the first (``i + k``). Concat is a
    zero-shuffle plan: two chunk-pruned scans unioned with a constant
    index remap — no join, no window, no repartition (contrast zarr26
    append, which mutates one store, and zarr19, which joins on the
    SHARED index). At 100 TB this is how federated surveys stitch:
    each member store scans its own chunks in place."""
    base = ensure_stores(spark, sf_dir)
    a = MdioDataset.open(os.path.join(base, "orders_v2.zarr"))
    b = MdioDataset.open(os.path.join(base, "orders_v3.zarr"))
    k = min(ZarrStore.open(os.path.join(base, "orders_v2.zarr")).array_meta("price").shape[0], 3000)
    left = a.isel(i=(0, k)).to_df(spark, "price", value_col="price").select("i", "price")
    right = (
        b.isel(i=(0, k)).to_df(spark, "price", value_col="price")
        .select((F.col("i") + F.lit(k)).alias("i"), "price")
    )
    return left.unionAll(right).orderBy("i")


# ------------------------------------------------- stored ANN index (v09)

def _ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Lazily build and PERSIST an IVF index into its own MDIO store (own
    marker): a 1-D ``cell`` array (vector position → assigned cell, int64)
    and a 2-D ``centroid`` array (K × dim float64). The index is data-derived
    (v03's deterministic coarse quantizer) while the vector payload stays in
    parquet — the realistic split where the index is small and store-resident
    and the corpus is the lakehouse table."""
    from mdio_cpp_spark.operators import similarity
    from mdio_cpp_spark.plans.pipeline import _IVF_CELLS
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "ivf_index.zarr")
    marker = os.path.join(base, ".built_ivf_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        e = table(spark, sf_dir, "embeddings")
        n = e.count()
        dim = len(e.select("embedding").head()[0])
        cents = e.orderBy("vec_id").limit(_IVF_CELLS).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        assign = similarity.ivf_assign(e, "vec_id", "embedding", cents)
        st = ZarrStore.create(path, version=2, attrs={"name": "ivf_index"})
        st.create_array("cell", shape=(n,), chunks=(CHUNK,), dtype="int64",
                        dims=("i",), compressor={"id": "zlib", "level": 1})
        st.create_array("centroid", shape=(_IVF_CELLS, dim),
                        chunks=(_IVF_CELLS, dim), dtype="float64",
                        dims=("c", "d"), compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(
            assign.select(F.col("vec_id").alias("i"), F.col("cell").alias("v")),
            path, "cell", value_cols="v",
        )
        write_array(
            cents.select(
                F.col("cid").alias("c"),
                F.posexplode(F.col("cv").cast("array<double>")).alias("d", "v"),
            ),
            path, "centroid", value_cols="v",
        )
        with open(marker, "w") as f:
            f.write("ok")
    return path


def _v09_oracle() -> str:
    from mdio_cpp_spark.plans.pipeline import _IVF_CELLS, _dd_cosine

    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid, ROUND({_dd_cosine("e.embedding", "c.cv")}, 6) AS cc
      FROM embeddings e CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, embedding, cid AS cell FROM (
        SELECT vec_id, embedding, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid DESC) AS r
        FROM scored
      ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv, cell FROM assign WHERE vec_id < 3)
    SELECT q_id, vec_id, cos, rk FROM (
      SELECT q.q_id, e.vec_id, ROUND({_dd_cosine("q.qv", "e.embedding")}, 4) AS cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id
                  ORDER BY ROUND({_dd_cosine("q.qv", "e.embedding")}, 4) DESC, e.vec_id) AS BIGINT) AS rk
      FROM q JOIN assign e ON e.cell = q.cell AND e.vec_id <> q.q_id
    ) WHERE rk <= 5 ORDER BY q_id, rk
    """


@declared("v09_stored_ivf", oracle=_v09_oracle())
def v09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from a PERSISTED index: the IVF coarse quantizer and
    cell assignments live in an MDIO store (built once by `_ivf_store`,
    then REOPENED — this query's scans hit stored bytes, not lineage);
    the vector payload stays in parquet. Query path: scan the K×dim
    centroid array, re-assemble centroid vectors, assign the 3 query
    vectors map-side (broadcast), scan the position→cell array, join the
    payload on vec_id, search ONLY the query's cell, exact-rank inside.
    Must reproduce v03's answer bit-for-bit — the proof the index
    round-trips losslessly (float32 payload upcasts exactly to the
    stored float64). At 100 TB the index arrays are ~N ints + K·dim
    doubles: store-resident, chunk-pruned, rebuilt only on reindex."""
    from mdio_cpp_spark.operators import similarity
    from mdio_cpp_spark.operators.similarity import _ranked
    from mdio_cpp_spark.functions import vectors

    path = _ivf_store(spark, sf_dir)
    ds = MdioDataset.open(path)
    cents = (
        ds.to_df(spark, "centroid", value_col="x")
        .groupBy(F.col("c").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "x"))), lambda s: s["x"]
            ).alias("cv")
        )
    )
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    q_assigned = F.broadcast(
        similarity.ivf_assign(q, "vec_id", "embedding", cents).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "cell"
        )
    )
    corpus = (
        ds.to_df(spark, "cell", value_col="cell")
        .select(F.col("i").alias("vec_id"), "cell")
        .join(e, "vec_id")
    )
    pairs = (
        corpus.join(q_assigned, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            F.round(vectors.cosine(F.col("qv"), F.col("embedding")), 4).alias("cos"),
        )
    )
    return _ranked(pairs, 5).orderBy("q_id", "rk")


@declared(
    "zarr66_quantile_multi",
    oracle=_CELLS_CENTS + """
    SELECT row, CAST(q.i - 1 AS BIGINT) AS qi,
           qs[q.i] / 100.0 AS qv
    FROM (
      SELECT row, quantile_cont(c, [0.25, 0.5, 0.75]) AS qs
      FROM cells WHERE row < 16 GROUP BY row
    ) CROSS JOIN (SELECT unnest(range(1, 4)) AS i) q
    ORDER BY row, qi
    """,
)
def zarr66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``quantile([.25, .5, .75], dim='col')`` — the full quartile
    profile of each row in ONE aggregate pass (zarr61 is the single-
    quantile form): Spark's ``percentile`` takes the probability ARRAY, so
    all three order statistics come from one per-key sort, then posexplode
    to tidy rows JVM-side. Exactness: interpolation on integer cents lands
    on exact .25 steps (quarters of integers are exact doubles), then one
    division by 100 — bit-identical across engines, no rounding."""
    cells = _grid_cents(spark, sf_dir, 16)
    qs = cells.groupBy("row").agg(
        F.percentile("c", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("qs")
    )
    return (
        qs.select("row", F.posexplode("qs").alias("qi", "qc"))
        .select("row", F.col("qi").cast("long").alias("qi"), (F.col("qc") / 100.0).alias("qv"))
        .orderBy("row", "qi")
    )


_Z67_CLIP = 450_000.0

def _masked_store(spark: SparkSession, sf_dir: str) -> str:
    """Lazily build zarr67's private store: a full copy of the price series
    (own marker — the masked update below MUTATES it, so it must not share
    the fixture store other queries scan)."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "masked_v2.zarr")
    marker = os.path.join(base, ".built_masked_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        ).cache()
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "masked_mdio"})
        st.create_array("val", shape=(n,), chunks=(CHUNK,), dtype="float64",
                        dims=("i",), compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(ords, path, "val", value_cols="v")
        ords.unpersist()
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr67_where_update",
    oracle=f"""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           LEAST(o_totalprice, {_Z67_CLIP}) AS v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 8192 ORDER BY i
    """,
)
def zarr67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-driven masked write-back — xarray
    ``ds['v'] = ds.v.where(v <= clip, clip)`` PERSISTED: scan the region
    with the value predicate pushed down (zone maps skip chunks whose max
    is already under the clip), write ONLY the violating cells back at
    their coordinates (single-owner chunk RMW preserves every other
    cell and keeps the zone stats coherent), reopen, and scan the result.
    The update is idempotent, so re-running converges — the bulk-correction
    shape (range clamping, sentinel scrubbing) a curation pipeline applies
    in place. Shuffle cost: violating cells only, keyed by chunk id."""
    from mdio_cpp_spark.sources.writer import write_array

    path = _masked_store(spark, sf_dir)
    ds = MdioDataset.open(path)
    viol = (
        ds.isel(i=(0, 8192))
        .to_df(spark, "val", value_col="v")
        .filter(F.col("v") > _Z67_CLIP)
        .select("i", F.lit(_Z67_CLIP).alias("v"))
    )
    write_array(viol, path, "val", value_cols="v")
    out = MdioDataset.open(path).isel(i=(0, 8192)).to_df(spark, "val", value_col="v")
    return out.select("i", "v").orderBy("i")


@declared(
    "zarr68_zscore_axis",
    oracle=_CELLS_CENTS + """
    SELECT row, col,
           (c * COUNT(*) OVER (PARTITION BY row)
            - SUM(c) OVER (PARTITION BY row))
           / sqrt(CAST(COUNT(*) OVER (PARTITION BY row)
                       * SUM(c * c) OVER (PARTITION BY row)
                       - SUM(c) OVER (PARTITION BY row)
                         * SUM(c) OVER (PARTITION BY row) AS DOUBLE)) AS z
    FROM cells WHERE row < 8 ORDER BY row, col
    """,
)
def zarr68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardize along an axis (xarray ``(ds - mean) / std``): zarr64's
    de-meaning completed with the population σ — rearranged entirely onto
    integer sufficient statistics, z = (c·n − S1)/√(n·S2 − S1²) (dq02's
    algebra on the stored grid), so the only float ops are one sqrt and
    one division: bit-identical across engines. One unbounded window
    partitioned by the surviving dimension; rows with zero variance would
    divide by zero — o_totalprice rows always vary, and the table twin
    (dq02) shows the guard for data where they might not."""
    cells = _grid_cents(spark, sf_dir, 8)
    w = Window.partitionBy("row")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("c").over(w)
    s2 = F.sum(F.col("c") * F.col("c")).over(w)
    return (
        cells.select(
            "row", "col",
            ((F.col("c") * n - s1) / F.sqrt((n * s2 - s1 * s1).cast("double"))).alias("z"),
        )
        .orderBy("row", "col")
    )


@declared(
    "zarr69_cumsum_axis",
    oracle=_CELLS_CENTS + """
    SELECT row, col,
           SUM(c) OVER (PARTITION BY row ORDER BY col
                        ROWS UNBOUNDED PRECEDING) / 100.0 AS run_v
    FROM cells WHERE row < 8 ORDER BY row, col
    """,
)
def zarr69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``cumsum(dim='col')`` over the 2-D grid: the running sum
    along an axis is embarrassingly parallel across the SURVIVING
    dimension — one window partitioned by row (contrast zarr24, where the
    reduced 1-D axis forces the chunk-bucketed prefix-sum machinery; with
    a surviving dim you get parallelism for free). Integer-cents
    accumulation with one division per cell — bit-exact, no rounding."""
    cells = _grid_cents(spark, sf_dir, 8)
    w = Window.partitionBy("row").orderBy("col").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cells.select("row", "col", (F.sum("c").over(w) / 100.0).alias("run_v"))
        .orderBy("row", "col")
    )


@declared(
    "zarr70_rolling_axis",
    oracle=_CELLS_CENTS + """
    SELECT row, col,
           SUM(c) OVER w / (100.0 * COUNT(c) OVER w) AS roll_mean
    FROM cells WHERE row < 8
    WINDOW w AS (PARTITION BY row ORDER BY col ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
    ORDER BY row, col
    """,
)
def zarr70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``rolling(col=3, center=True, min_periods=1).mean()`` along a
    SURVIVING axis: with the other dimension intact the rolling window is
    a plain row-partitioned frame — parallel across rows for free
    (contrast zarr27, where rolling along the ONLY axis needs the
    halo-exchange machinery). Integer-cents sum over the 3-cell frame,
    one division by the actual frame count (edges see 2 cells — the
    min_periods=1 contract) — bit-exact."""
    cells = _grid_cents(spark, sf_dir, 8)
    w = Window.partitionBy("row").orderBy("col").rowsBetween(-1, 1)
    return (
        cells.select(
            "row", "col",
            (F.sum("c").over(w) / (100.0 * F.count("c").over(w))).alias("roll_mean"),
        )
        .orderBy("row", "col")
    )


def _pyramid_store(spark: SparkSession, sf_dir: str, m: int) -> str:
    """Own-marker store holding the level-1 pyramid array (created once;
    zarr71 REWRITES its cells idempotently every run)."""
    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "pyramid_l1_v2.zarr")
    marker = os.path.join(base, ".built_pyr_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        st = ZarrStore.create(path, version=2, attrs={"name": "pyramid_l1"})
        st.create_array("l1", shape=(m,), chunks=(CHUNK,), dtype="float64",
                        dims=("g",), compressor={"id": "zlib", "level": 1})
        st.consolidate()
        with open(marker, "w") as f:
            f.write("ok")
    return path


@declared(
    "zarr71_pyramid_build",
    oracle="""
    SELECT CAST((rn - 1) // 4 AS BIGINT) AS g,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 400.0 AS v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    GROUP BY 1 HAVING COUNT(*) = 4
    ORDER BY g
    """,
)
def zarr71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiscale pyramid BUILD (zarr34 reads a pre-built level; this one
    GENERATES level 1 distributed and persists it): factor-4 block means
    of the stored price series — zarr54's coarsen reduction — written
    into a level-1 store (one chunk-keyed shuffle, the minimum for a
    re-gridding write), then read BACK through the chunk-pruned scan.
    The gate hashes the readback, so the whole
    decimate→write→reopen→scan chain must round-trip bit-exactly
    (cents-integer block sums / 400 are engine-exact doubles; float64
    storage is lossless). The seismic multiscale story: each level is
    4× smaller, built level-from-level with the same plan."""
    from mdio_cpp_spark.sources.writer import write_array

    ds = MdioDataset.open(_main_store(spark, sf_dir))
    src = ds.to_df(spark, "price", value_col="v")
    l1 = (
        src.groupBy(F.expr("i div 4").alias("g"))
        .agg(
            (F.sum(F.round(F.col("v") * 100).cast("long")).cast("double") / 400.0).alias("v"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") == 4)
        .select("g", "v")
    )
    n = ZarrStore.open(_main_store(spark, sf_dir)).array_meta("price").shape[0]
    path = _pyramid_store(spark, sf_dir, n // 4)
    write_array(l1, path, "l1", value_cols="v")
    return (
        MdioDataset.open(path)
        .to_df(spark, "l1", value_col="v")
        .select(F.col("g"), "v")
        .orderBy("g")
    )


@declared(
    "zarr72_complex_magnitude",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           sqrt(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     + CAST(o_custkey * 100 AS BIGINT) * CAST(o_custkey * 100 AS BIGINT) AS DOUBLE)) / 100.0
           AS mag
    FROM (SELECT o_totalprice, o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 900 AND rn - 1 < 5000
    ORDER BY i
    """,
)
def zarr72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex analytics past the scan (zarr11 only reads the pairs):
    |z| = √(re²+im²) over the stored complex128 array — the amplitude
    extraction every seismic trace viewer applies first. Computed on
    integer cents (re_c²+im_c² is an exact bigint) so the only float ops
    are one sqrt and one division — bit-identical across engines. Pure
    map-side arithmetic over the chunk-pruned slice; Spark has no complex
    type, so (re, im) columns + column math IS the complex algebra."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    df = ds.isel(i=(900, 5000)).to_df(spark, "cpx")
    re_c = F.round(F.col("value_re") * 100).cast("long")
    im_c = (F.col("value_im") * 100).cast("long")
    return (
        df.select(
            "i",
            (F.sqrt((re_c * re_c + im_c * im_c).cast("double")) / 100.0).alias("mag"),
        )
        .orderBy("i")
    )


_Z73_TAU = 450_000.0

@declared(
    "zarr73_threshold_runs",
    oracle=f"""
    WITH hit AS (
      SELECT CAST(rn - 1 AS BIGINT) AS i
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE o_totalprice > {_Z73_TAU}),
    grp AS (
      SELECT i, i - ROW_NUMBER() OVER (ORDER BY i) AS g FROM hit)
    SELECT MIN(i) AS run_start, CAST(COUNT(*) AS BIGINT) AS run_len
    FROM grp GROUP BY g HAVING COUNT(*) >= 2
    ORDER BY run_start
    """,
)
def zarr73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run detection over a stored array: contiguous index runs where the
    value exceeds a threshold (length ≥ 2) — the bright-spot / event
    picker of signal pipelines, gaps-and-islands (w12) applied to array
    indices. The value predicate pushes into the decoder WITH zone-map
    chunk skips (only chunks whose max clears τ are fetched), surviving
    indices are sparse, and the island id is index − rank. The rank
    window is ordered over the SPARSE hit set (documented bounded
    global: |hits| ≪ |cells|; a chunk-bucketed two-level rank — zarr24's
    offsets shape — removes even that if hits are dense)."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    hits = (
        ds.to_df(spark, "price", value_col="v")
        .filter(F.col("v") > _Z73_TAU)
        .select("i")
    )
    w = Window.orderBy("i")
    grp = hits.withColumn("g", F.col("i") - F.row_number().over(w))
    return (
        grp.groupBy("g")
        .agg(F.min("i").alias("run_start"), F.count(F.lit(1)).alias("run_len"))
        .filter(F.col("run_len") >= 2)
        .select("run_start", "run_len")
        .orderBy("run_start")
    )


@declared(
    "zarr74_agc",
    oracle=_CELLS_CENTS + """
    SELECT row, col,
           c / sqrt(CAST(SUM(c * c) OVER w AS DOUBLE) / COUNT(*) OVER w) AS agc
    FROM cells WHERE row < 8
    WINDOW w AS (PARTITION BY row ORDER BY col ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    ORDER BY row, col
    """,
)
def zarr74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic gain control (AGC) along the trace axis — THE seismic
    display normalization: each sample divides by the RMS of its
    ±2-sample neighborhood, so strong and weak zones render at comparable
    amplitude. Sliding RMS = √(Σc²/n) over a row-partitioned frame
    (parallel across traces; edge frames use their actual n); Σc² is an
    exact integer window sum, so the only float ops are one division,
    one sqrt, one division — bit-identical across engines. The reference
    ships trace data to drivers for this (examples/seismic_reader); here
    it's three codegen'd window expressions."""
    cells = _grid_cents(spark, sf_dir, 8)
    w = Window.partitionBy("row").orderBy("col").rowsBetween(-2, 2)
    rms = F.sqrt(F.sum(F.col("c") * F.col("c")).over(w).cast("double") / F.count(F.lit(1)).over(w))
    return (
        cells.select("row", "col", (F.col("c") / rms).alias("agc"))
        .orderBy("row", "col")
    )


_Z75_TAU = 300_000.0

@declared(
    "zarr75_first_arrival",
    oracle=_CELLS_CENTS + f"""
    SELECT row, MIN(col) AS first_col
    FROM cells WHERE row < 16 AND c > {int(_Z75_TAU * 100)}
    GROUP BY row ORDER BY row
    """,
)
def zarr75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-arrival picking: the smallest axis index where each trace
    first exceeds the trigger threshold — seismic first-break / onset
    detection (the reference's seismic_reader example walks traces on the
    driver for exactly this kind of pick). One pushdown-filtered scan of
    the grid (only supra-threshold cells survive the decoder) and a
    MIN(col) partial agg per surviving row — the cheapest possible pick:
    the shuffle carries one candidate column id per (row, partition)."""
    cells = _grid_cents(spark, sf_dir, 16)
    return (
        cells.filter(F.col("c") > int(_Z75_TAU * 100))
        .groupBy("row")
        .agg(F.min("col").alias("first_col"))
        .orderBy("row")
    )


@declared(
    "zarr76_trace_xcorr",
    oracle=_CELLS_CENTS + """
    SELECT a.row, l.lag, SUM(a.c * b.c) / 10000.0 AS xc
    FROM cells a
    JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) l ON TRUE
    JOIN cells b ON b.row = a.row + 1 AND b.col = a.col + l.lag
    WHERE a.row < 7
    GROUP BY a.row, l.lag ORDER BY a.row, l.lag
    """,
)
def zarr76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-trace cross-correlation panel: Σ a[x]·b[x+lag] between
    each trace and its neighbor at lags −2…+2 — the moveout/static-shift
    estimator of multi-trace seismic processing (zarr30 correlates two
    VARIABLES; this correlates neighboring slices of ONE array). Each
    cell explodes into 5 lag candidates map-side, the pair join is a
    pure equi-join on the remapped (row+1, col+lag) key, and the lag
    products are exact integer cent² sums — one division, bit-identical.
    At 100 TB the join co-partitions on the chunk-aligned key; only the
    2·halo boundary columns cross chunk owners."""
    cells = _grid_cents(spark, sf_dir, 8)
    a = cells.filter(F.col("row") < 7).select(
        F.col("row").alias("arow"), F.col("col").alias("acol"), F.col("c").alias("ac"),
        F.explode(F.array(*[F.lit(x) for x in (-2, -1, 0, 1, 2)])).alias("lag"),
    )
    b = cells.select(
        F.col("row").alias("brow"), F.col("col").alias("bcol"), F.col("c").alias("bc")
    )
    return (
        a.join(
            b,
            (F.col("brow") == F.col("arow") + 1)
            & (F.col("bcol") == F.col("acol") + F.col("lag")),
        )
        .groupBy(F.col("arow").alias("row"), "lag")
        .agg((F.sum(F.col("ac") * F.col("bc")) / 10000.0).alias("xc"))
        .orderBy("row", "lag")
    )


@declared(
    "zarr77_semblance",
    oracle=_CELLS_CENTS + """
    SELECT col,
           CAST(SUM(c) AS DOUBLE) * SUM(c)
           / (COUNT(*) * CAST(SUM(c * c) AS DOUBLE)) AS semblance
    FROM cells WHERE row < 8 GROUP BY col ORDER BY col
    """,
)
def zarr77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semblance — the multi-trace coherence attribute of velocity
    analysis: (Σ_traces c)² / (n·Σ_traces c²) per column across the 8-trace
    gather (1 = perfectly coherent, →1/n for incoherent energy). One
    partial-aggregatable groupBy on the cross-trace axis collecting two
    integer sums; the ratio is evaluated with the identical
    double-multiply/divide order on both engines — bit-exact. The
    reference's C++ examples compute per-trace stats serially; semblance
    is the canonical REASON multi-trace array analytics exist."""
    cells = _grid_cents(spark, sf_dir, 8)
    s1 = F.sum("c").cast("double")
    return (
        cells.groupBy("col")
        .agg(
            (s1 * F.sum("c") / (F.count(F.lit(1)) * F.sum(F.col("c") * F.col("c")).cast("double"))).alias("semblance")
        )
        .orderBy("col")
    )


@declared(
    "zarr78_horizon_flatten",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    ),
    picks AS (
      SELECT row, MIN(col) AS pick FROM cells
      WHERE row < 16 AND v > 300000.0 GROUP BY row
    )
    SELECT c.row, CAST(c.col - p.pick AS BIGINT) AS t, c.v
    FROM cells c JOIN picks p ON c.row = p.row
    WHERE c.col >= p.pick AND c.col < p.pick + 8
    ORDER BY c.row, t
    """,
)
def zarr78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon flattening (static correction): shift every trace so its
    first arrival (zarr75's pick) sits at t=0 and keep the first 8
    aligned samples — the datum-correction step that turns raw gathers
    into stackable ones. Picks are one tiny agg broadcast back onto the
    SAME chunk-pruned scan; the shift is a map-side index remap (no
    shuffle of cell data); values pass through untouched — exact. The
    composition story: detection (zarr75) feeding geometry correction in
    one declarative plan."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    scan = ds.isel(row=(0, 16)).to_df(spark, "grid", value_col="v")
    picks = (
        scan.filter(F.col("v") > 300_000.0)
        .groupBy("row")
        .agg(F.min("col").alias("pick"))
    )
    return (
        scan.join(F.broadcast(picks), "row")
        .filter((F.col("col") >= F.col("pick")) & (F.col("col") < F.col("pick") + 8))
        .select("row", (F.col("col") - F.col("pick")).alias("t"), "v")
        .orderBy("row", "t")
    )


@declared(
    "zarr79_stack",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    ),
    picks AS (
      SELECT row, MIN(col) AS pick FROM cells
      WHERE row < 16 AND v > 300000.0 GROUP BY row
    ),
    flat AS (
      SELECT CAST(c.col - p.pick AS BIGINT) AS t,
             CAST(ROUND(c.v * 100) AS BIGINT) AS c
      FROM cells c JOIN picks p ON c.row = p.row
      WHERE c.col >= p.pick AND c.col < p.pick + 8
    )
    SELECT t, CAST(COUNT(*) AS BIGINT) AS fold,
           CAST(SUM(c) AS DOUBLE) / (100.0 * COUNT(*)) AS stack_v
    FROM flat GROUP BY t ORDER BY t
    """,
)
def zarr79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STACK — the end of the seismic chain this round built up:
    detect first arrivals (zarr75), flatten each trace onto its pick
    (zarr78), then average the aligned samples ACROSS traces per t —
    coherent energy adds, noise cancels. One pruned scan feeds pick →
    remap → a t-keyed partial agg; the mean is an exact integer-cents
    sum with one division (fold = live trace count per t). Three
    processing stages, still a single declarative plan with one data
    shuffle (the t-keyed reduce)."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    scan = ds.isel(row=(0, 16)).to_df(spark, "grid", value_col="v")
    picks = (
        scan.filter(F.col("v") > 300_000.0).groupBy("row").agg(F.min("col").alias("pick"))
    )
    flat = (
        scan.join(F.broadcast(picks), "row")
        .filter((F.col("col") >= F.col("pick")) & (F.col("col") < F.col("pick") + 8))
        .select(
            (F.col("col") - F.col("pick")).alias("t"),
            F.round(F.col("v") * 100).cast("long").alias("c"),
        )
    )
    return (
        flat.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("fold"),
            (F.sum("c").cast("double") / (100.0 * F.count(F.lit(1)))).alias("stack_v"),
        )
        .orderBy("t")
    )


@declared(
    "zarr80_nmo",
    oracle=_CELLS_CENTS + """
    , tgt AS (
      SELECT r.row, t.t0,
             sqrt(CAST(t.t0 * t.t0 + 4 * r.row * r.row AS DOUBLE)) AS ts
      FROM (SELECT unnest(range(16)) AS row) r,
           (SELECT unnest(range(48)) AS t0) t
    ),
    g AS (
      SELECT row, t0, CAST(floor(ts) AS BIGINT) AS i0, ts - floor(ts) AS frac
      FROM tgt
    )
    SELECT g.row, g.t0,
           ((1.0 - g.frac) * c0.c + g.frac * c1.c) / 100.0 AS nmo_v
    FROM g
    JOIN cells c0 ON c0.row = g.row AND c0.col = g.i0
    JOIN cells c1 ON c1.row = g.row AND c1.col = g.i0 + 1
    ORDER BY g.row, g.t0
    """,
)
def zarr80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal-moveout (NMO) correction — the hyperbolic time remap between
    zarr78's static flatten and zarr79's stack: output sample t0 of the
    trace at offset `row` is read from input time ts = sqrt(t0² + k·row²)
    with linear interpolation between the two bracketing samples (the
    reference's seismic examples leave this to downstream tools; here it's
    a declarative plan). The moveout table (row, t0) → (i0, frac) is
    computed ANALYTICALLY from a 16×48 range cross — a few hundred rows,
    broadcast — so the data side pays exactly two broadcast equi-joins on
    (row, col) with NO shuffle of cell data; the remap never leaves the
    trace, so with row-major chunking both gathers are chunk-local at any
    grid size. Exactness: sqrt/floor/±/× on doubles are IEEE
    correctly-rounded ops evaluated in the identical order in both
    engines, the blend is one fixed-shape expression over exact integer
    cents, and the only division is the final /100.0 — bit-identical with
    no rounding escape hatch."""
    cells = _grid_cents(spark, sf_dir, 16)
    rows = spark.range(16).select(F.col("id").alias("row"))
    tgt = rows.select(
        "row", F.explode(F.sequence(F.lit(0), F.lit(47))).alias("t0")
    ).select(
        "row",
        "t0",
        F.sqrt((F.col("t0") * F.col("t0") + 4 * F.col("row") * F.col("row")).cast("double")).alias("ts"),
    )
    g = tgt.select(
        "row",
        "t0",
        F.floor("ts").alias("i0"),
        (F.col("ts") - F.floor("ts")).alias("frac"),
    )
    c0 = cells.select("row", F.col("col").alias("i0"), F.col("c").alias("c0"))
    c1 = cells.select("row", (F.col("col") - 1).alias("i0"), F.col("c").alias("c1"))
    return (
        c0.join(F.broadcast(g), ["row", "i0"])
        .join(c1, ["row", "i0"])
        .select(
            "row",
            "t0",
            (((1.0 - F.col("frac")) * F.col("c0") + F.col("frac") * F.col("c1")) / 100.0).alias("nmo_v"),
        )
        .orderBy("row", "t0")
    )


@declared(
    "zarr81_walsh",
    oracle=_CELLS_CENTS + """
    SELECT c.row, f.f,
           CAST(SUM(c.c * (1 - 2 * (bit_count(f.f & c.col) % 2))) AS BIGINT)
           AS walsh_e2
    FROM cells c
    JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS f) f ON TRUE
    WHERE c.row < 16
    GROUP BY c.row, f.f ORDER BY c.row, f.f
    """,
)
def zarr81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walsh–Hadamard sequency spectrum per trace: the ±1 square-wave
    analog of per-trace spectral decomposition, coef(f) = Σ_col
    c·(−1)^popcount(f AND col) for sequencies f ∈ {1,2,4,8,16} over the
    64-sample traces. Chosen over a Fourier DFT deliberately: the basis is
    integer ±1 (sign from one bit_count, codegen'd JVM-side), so the whole
    transform is EXACT integer-cents arithmetic — no transcendental basis
    whose libm-vs-java.lang.Math ULP drift would poison the differential
    hash. Each cell fans out map-side into 5 (f, ±c) terms and the reduce
    is a partial-aggregated (row, f) sum — shuffle carries 5 longs per
    cell, nothing else; at 100 TB the fan-out factor is the sequency-band
    count you asked for, not the grid size."""
    cells = _grid_cents(spark, sf_dir, 16)
    terms = cells.select(
        "row",
        "col",
        "c",
        F.explode(F.array(*[F.lit(x) for x in (1, 2, 4, 8, 16)])).alias("f"),
    )
    sign = 1 - 2 * (F.bit_count(F.col("f").bitwiseAND(F.col("col"))) % 2)
    return (
        terms.groupBy("row", "f")
        .agg(F.sum(F.col("c") * sign).cast("long").alias("walsh_e2"))
        .orderBy("row", "f")
    )


@declared(
    "zarr82_mute_taper",
    oracle=_CELLS_CENTS + """
    SELECT row,
           CAST(COUNT(*) FILTER (WHERE col < 2 * row) AS BIGINT) AS n_muted,
           CAST(SUM(c * LEAST(GREATEST(col - 2 * row + 1, 0), 4)) AS BIGINT)
           AS live_e2q,
           CAST(SUM(c * LEAST(GREATEST(col - 2 * row + 1, 0), 4)) AS DOUBLE)
           / 400.0 AS live_mass
    FROM cells WHERE row < 16 GROUP BY row ORDER BY row
    """,
)
def zarr82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-dependent top mute with a linear taper — the pre-stack
    cleanup that zeroes each trace above its mute ramp (here m(row) =
    2·row samples) and feathers the 4 samples below it with weights
    1/4…4/4 so the stack doesn't inherit a hard edge. The taper weight is
    a clamped integer expression (quarter units 0…4), so the weighted
    energy sum stays EXACT in quarter-cents; the per-trace reduce is one
    partial-aggregated groupBy on the chunk-pruned slice and the only
    double op is the final /400.0 normalization — bit-identical. At 100 TB
    the mute is evaluated map-side inside codegen (no mask array is ever
    materialized or shuffled), exactly how a mask-free xarray.where
    should lower."""
    cells = _grid_cents(spark, sf_dir, 16)
    wq = F.least(F.greatest(F.col("col") - 2 * F.col("row") + 1, F.lit(0)), F.lit(4))
    live = F.sum(F.col("c") * wq)
    return (
        cells.groupBy("row")
        .agg(
            F.count(F.when(F.col("col") < 2 * F.col("row"), 1)).alias("n_muted"),
            live.cast("long").alias("live_e2q"),
            (live.cast("double") / 400.0).alias("live_mass"),
        )
        .orderBy("row")
    )


@declared(
    "zarr83_dip_scan",
    oracle=_CELLS_CENTS + """
    , xc AS (
      SELECT a.row, l.lag, CAST(SUM(a.c * b.c) AS BIGINT) AS xce4
      FROM cells a
      JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) l ON TRUE
      JOIN cells b ON b.row = a.row + 1 AND b.col = a.col + l.lag
      WHERE a.row < 7
      GROUP BY a.row, l.lag)
    SELECT row, lag AS best_lag, xce4 AS best_xce4 FROM (
      SELECT row, lag, xce4,
             ROW_NUMBER() OVER (PARTITION BY row ORDER BY xce4 DESC, abs(lag), lag) AS rk
      FROM xc) WHERE rk = 1 ORDER BY row
    """,
)
def zarr83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dip scan: the local structural-dip estimate between each trace and
    its neighbor — the lag that maximizes zarr76's cross-correlation, with
    a deterministic tiebreak toward zero shift (smallest |lag|, then
    smallest lag). This is detection-on-top-of-correlation: the xcorr
    panel stays EXACT integer cent² sums (no division before the argmax,
    so ties are decided on integers, never float fuzz), and the pick is a
    partial-aggregatable MAX of one packed comparison struct per (row,
    lag) — 5 rows per trace reduce to 1; no window over data. At 100 TB
    this is the same chunk-local neighbor equi-join as zarr76 plus a
    |rows|-key reduce."""
    cells = _grid_cents(spark, sf_dir, 8)
    a = cells.filter(F.col("row") < 7).select(
        F.col("row").alias("arow"), F.col("col").alias("acol"), F.col("c").alias("ac"),
        F.explode(F.array(*[F.lit(x) for x in (-2, -1, 0, 1, 2)])).alias("lag"),
    )
    b = cells.select(
        F.col("row").alias("brow"), F.col("col").alias("bcol"), F.col("c").alias("bc")
    )
    xc = (
        a.join(
            b,
            (F.col("brow") == F.col("arow") + 1)
            & (F.col("bcol") == F.col("acol") + F.col("lag")),
        )
        .groupBy(F.col("arow").alias("row"), "lag")
        .agg(F.sum(F.col("ac") * F.col("bc")).alias("xce4"))
    )
    best = xc.groupBy("row").agg(
        F.max(
            F.struct(
                F.col("xce4").alias("xce4"),
                (-F.abs(F.col("lag"))).alias("nabs"),
                (-F.col("lag")).alias("nlag"),
            )
        ).alias("m")
    )
    return best.select(
        "row",
        (-F.col("m.nlag")).cast("long").alias("best_lag"),
        F.col("m.xce4").alias("best_xce4"),
    ).orderBy("row")


@declared(
    "zarr84_rms_tiles",
    oracle=_CELLS_CENTS + """
    SELECT row, col // 16 AS tile, CAST(COUNT(*) AS BIGINT) AS n,
           sqrt(CAST(SUM(c * c) AS DOUBLE) / COUNT(*)) / 100.0 AS rms
    FROM cells WHERE row < 16
    GROUP BY row, col // 16 ORDER BY row, tile
    """,
)
def zarr84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS amplitude map: the root-mean-square energy of each
    16-sample tile along every trace — the QC attribute panel (bright-spot
    / dead-trace screening) that every seismic review starts from, and the
    same tiling zarr28's pool2d uses, here with the energy statistic.
    One partial-aggregatable groupBy on (row, col div 16) over the
    chunk-pruned slice — cent² sums stay exact int64; the double ops are
    sum/n, one IEEE sqrt, one /100 in identical order both engines —
    bit-exact. At any grid size tiles are chunk-interior (16 divides the
    chunk edge), so the reduce is map-local except at chunk boundaries."""
    cells = _grid_cents(spark, sf_dir, 16)
    return (
        cells.groupBy("row", F.expr("col div 16").alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double") / F.count(F.lit(1)))
                / 100.0
            ).alias("rms"),
        )
        .orderBy("row", "tile")
    )


@declared(
    "zarr85_grad_mag",
    oracle=_CELLS_CENTS + """
    SELECT a.row, a.col,
           CAST(ABS(r1.c - l1.c) + ABS(d1.c - u1.c) AS BIGINT) AS g_e2
    FROM cells a
    JOIN cells l1 ON l1.row = a.row AND l1.col = a.col - 1
    JOIN cells r1 ON r1.row = a.row AND r1.col = a.col + 1
    JOIN cells u1 ON u1.row = a.row - 1 AND u1.col = a.col
    JOIN cells d1 ON d1.row = a.row + 1 AND d1.col = a.col
    WHERE a.row BETWEEN 1 AND 14 AND a.col BETWEEN 1 AND 62
    ORDER BY a.row, a.col
    """,
)
def zarr85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-magnitude map (L1 norm of central differences on both
    axes) — the edge/discontinuity attribute under fault detection and
    the first component of a structure tensor. NOT four self-joins: each
    cell fans out map-side into its 4 stencil contributions (±v to the
    dx/dy of its col/row neighbors, zarr27's halo idiom) and ONE
    (row, col)-keyed reduce assembles dx and dy together — a single
    shuffle whose rows are 4 longs, with only chunk-boundary cells ever
    crossing chunk owners at scale. The L1 norm keeps the attribute in
    exact integer cents (an L2 norm would merely add one IEEE sqrt)."""
    cells = _grid_cents(spark, sf_dir, 16)
    contribs = cells.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("row").alias("r"), (F.col("col") - 1).alias("cl"),
                    F.col("c").alias("dx"), F.lit(0).cast("long").alias("dy"),
                ),
                F.struct(
                    F.col("row").alias("r"), (F.col("col") + 1).alias("cl"),
                    (-F.col("c")).alias("dx"), F.lit(0).cast("long").alias("dy"),
                ),
                F.struct(
                    (F.col("row") - 1).alias("r"), F.col("col").alias("cl"),
                    F.lit(0).cast("long").alias("dx"), F.col("c").alias("dy"),
                ),
                F.struct(
                    (F.col("row") + 1).alias("r"), F.col("col").alias("cl"),
                    F.lit(0).cast("long").alias("dx"), (-F.col("c")).alias("dy"),
                ),
            )
        ).alias("s")
    ).select("s.r", "s.cl", "s.dx", "s.dy")
    return (
        contribs.filter(
            F.col("r").between(1, 14) & F.col("cl").between(1, 62)
        )
        .groupBy(F.col("r").alias("row"), F.col("cl").alias("col"))
        .agg((F.abs(F.sum("dx")) + F.abs(F.sum("dy"))).alias("g_e2"))
        .orderBy("row", "col")
    )


@declared(
    "zarr86_hist_equalize",
    oracle=_CELLS_CENTS + """
    , mm AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM cells WHERE row < 16),
    b AS (
      SELECT row, col, ((c - mn) * 64) // (mx - mn + 1) AS bin
      FROM cells CROSS JOIN mm WHERE row < 16),
    h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY bin),
    cdf AS (
      SELECT bin, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum,
             CAST((SELECT SUM(n) FROM h) AS BIGINT) AS tot
      FROM h)
    SELECT b.row, b.col, CAST(cdf.cum AS DOUBLE) / cdf.tot AS eq
    FROM b JOIN cdf ON b.bin = cdf.bin
    ORDER BY b.row, b.col
    """,
)
def zarr86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization: remap every cell to the cumulative share of
    its 64-bin amplitude bucket — the contrast-normalization transfer
    curve of display processing, distributed. Binning is pure integer
    arithmetic off one broadcast (min, max) row, the histogram is a
    64-key partial agg, the CDF is a window over THE 64 HISTOGRAM ROWS
    (constant-size by construction — never the data; this is the bounded
    exception the plan gate allows, like p10's 5-row ladder), and the
    remap is a broadcast hash join back onto the scan. eq = cum/tot is
    one exact-int division. Two passes over the slice (min/max, remap) —
    recomputing the pruned scan beats caching cells at 100 TB."""
    cells = _grid_cents(spark, sf_dir, 16)
    mm = cells.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    b = cells.crossJoin(F.broadcast(mm)).select(
        "row", "col",
        F.expr("((c - mn) * 64) div (mx - mn + 1)").alias("bin"),
    )
    h = b.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = h.agg(F.sum("n").alias("tot"))
    cdf = h.select("bin", F.sum("n").over(w).alias("cum")).crossJoin(F.broadcast(tot))
    return (
        b.join(F.broadcast(cdf), "bin")
        .select("row", "col", (F.col("cum").cast("double") / F.col("tot")).alias("eq"))
        .orderBy("row", "col")
    )


@declared(
    "zarr87_despike",
    oracle=_CELLS_CENTS + """
    , med AS (
      SELECT row, quantile_cont(c, 0.5) AS med FROM cells WHERE row < 16 GROUP BY row),
    dev AS (
      SELECT c.row, c.col, c.c,
             CAST(ABS(2 * c.c - CAST(2 * m.med AS BIGINT)) AS BIGINT) AS d2
      FROM cells c JOIN med m ON c.row = m.row WHERE c.row < 16),
    mad AS (
      SELECT row, CAST(2 * quantile_cont(d2, 0.5) AS BIGINT) AS mad4
      FROM dev GROUP BY row)
    SELECT d.row,
           CAST(COUNT(*) FILTER (WHERE 2 * d.d2 > 3 * m.mad4) AS BIGINT) AS n_spikes,
           CAST(SUM(d.c) FILTER (WHERE 2 * d.d2 <= 3 * m.mad4) AS DOUBLE)
           / (100.0 * COUNT(*) FILTER (WHERE 2 * d.d2 <= 3 * m.mad4)) AS clean_mean
    FROM dev d JOIN mad m ON d.row = m.row
    GROUP BY d.row ORDER BY d.row
    """,
)
def zarr87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Despike QC: flag samples deviating more than 6 MADs from their
    trace median and report the spike count plus the cleaned mean per
    trace — the robust-statistics editing pass run before any stack
    (mean/stddev thresholds chase their own outliers; median/MAD don't).
    The entire decision is EXACT integer arithmetic: medians of integer
    cents interpolate on halves (doubled into d2), the MAD doubles again
    into quarter-units (mad4), and 6·MAD rescales to the integer test
    2·d2 > 3·mad4 — no float ever decides a spike. Three keyed partial
    aggs over the chunk-pruned slice (median, MAD, verdict), each bounded
    by the 64-sample axis per key; one final display division."""
    cells = _grid_cents(spark, sf_dir, 16)
    med = cells.groupBy("row").agg(
        (F.percentile("c", F.lit(0.5)) * 2).cast("long").alias("med2")
    )
    dev = cells.join(med, "row").select(
        "row", "col", "c",
        F.abs(2 * F.col("c") - F.col("med2")).alias("d2"),
    )
    mad = dev.groupBy("row").agg(
        (F.percentile("d2", F.lit(0.5)) * 2).cast("long").alias("mad4")
    )
    spike = 2 * F.col("d2") > 3 * F.col("mad4")
    return (
        dev.join(mad, "row")
        .groupBy("row")
        .agg(
            F.count(F.when(spike, 1)).alias("n_spikes"),
            (
                F.sum(F.when(~spike, F.col("c"))).cast("double")
                / (100.0 * F.count(F.when(~spike, 1)))
            ).alias("clean_mean"),
        )
        .orderBy("row")
    )


@declared(
    "zarr88_velocity_scan",
    oracle=_CELLS_CENTS + """
    , tgt AS (
      SELECT k.k, r.row, t.t0,
             CAST(floor(sqrt(CAST(t.t0 * t.t0 + k.k * r.row * r.row AS DOUBLE)))
                  AS BIGINT) AS i0
      FROM (SELECT unnest([2, 4, 8]) AS k) k,
           (SELECT unnest(range(16)) AS row) r,
           (SELECT unnest(range(48)) AS t0) t
    ),
    g AS (
      SELECT tgt.k, tgt.t0, c.c
      FROM tgt JOIN cells c ON c.row = tgt.row AND c.col = tgt.i0
    )
    SELECT k, t0,
           CAST(SUM(c) AS DOUBLE) * SUM(c)
           / (COUNT(*) * CAST(SUM(c * c) AS DOUBLE)) AS semblance
    FROM g GROUP BY k, t0 ORDER BY k, t0
    """,
)
def zarr88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity scan — the real velocity-analysis panel: apply zarr80's
    hyperbolic moveout for a FAMILY of trial curvatures k ∈ {2,4,8}
    (nearest-sample gather) and score each corrected gather with zarr77's
    semblance per zero-offset time; the k that maximizes coherence at
    each t0 IS the picked stacking velocity. The 3×16×48-row moveout
    table is computed analytically and broadcast, so the data side is ONE
    broadcast equi-join on (row, col) against the chunk-pruned scan —
    trying more velocities grows the broadcast table, never the scan
    count — followed by a (k, t0)-keyed partial agg of two exact integer
    sums; the semblance ratio repeats zarr77's fixed double op order.
    Detection → correction → coherence scoring, one declarative plan."""
    cells = _grid_cents(spark, sf_dir, 16)
    ks = spark.range(3).select(
        F.element_at(F.array(F.lit(2), F.lit(4), F.lit(8)), (F.col("id") + 1).cast("int")).alias("k")
    )
    tgt = (
        ks.crossJoin(spark.range(16).select(F.col("id").alias("row")))
        .select("k", "row", F.explode(F.sequence(F.lit(0), F.lit(47))).alias("t0"))
        .select(
            "k", "row", "t0",
            F.floor(
                F.sqrt(
                    (F.col("t0") * F.col("t0") + F.col("k") * F.col("row") * F.col("row")).cast("double")
                )
            ).alias("i0"),
        )
    )
    g = cells.select("row", F.col("col").alias("i0"), "c").join(
        F.broadcast(tgt), ["row", "i0"]
    )
    s1 = F.sum("c").cast("double")
    return (
        g.groupBy("k", "t0")
        .agg(
            (
                s1 * F.sum("c")
                / (F.count(F.lit(1)) * F.sum(F.col("c") * F.col("c")).cast("double"))
            ).alias("semblance")
        )
        .orderBy("k", "t0")
    )


@declared(
    "zarr89_zonemap_report",
    oracle=f"""
    WITH n AS (SELECT LEAST(CAST((SELECT COUNT(*) FROM orders) AS BIGINT) // {GRID_C}, 128) AS rows_),
    cells AS (
      SELECT CAST((rn - 1) // {GRID_C} AS BIGINT) AS row,
             CAST((rn - 1) % {GRID_C} AS BIGINT) AS col,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < (SELECT rows_ FROM n) * {GRID_C}
    ),
    z AS (
      SELECT row // 32 AS crow, col // 32 AS ccol, MIN(v) AS vmin, MAX(v) AS vmax
      FROM cells GROUP BY 1, 2)
    SELECT CAST(crow AS BIGINT) AS crow, CAST(ccol AS BIGINT) AS ccol,
           vmin, vmax, (vmax < 450000.0) AS would_prune
    FROM z ORDER BY crow, ccol
    """,
)
def zarr89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map CONTENT parity: read the sidecar manifest back AS DATA —
    the engine's own scan opens `.zonemap/<var>` (itself a zarr store of
    1-D vmin/vmax arrays keyed by linear chunk id) and reconstructs the
    per-chunk-rectangle zone table plus the prune verdict a `v >= 450000`
    scan would apply. zarr29/58 pin the EFFECT of pruning (query results
    unchanged); this pins the INDEX BYTES against SQL-recomputed
    chunk min/max — the observability view a 100-TB operator checks
    before trusting a skip plan (zonemap.pruning_report's tabular twin).
    Cost: one scan of ~2·nchunks float64s — KBs for thousands of chunks —
    joined on the linear id, with (crow, ccol) derived by constant
    div/mod; the data store itself is never touched."""
    base = ensure_stores(spark, sf_dir)
    grid = os.path.join(base, "grid_v2.zarr")
    info = zonemap.ensure_chunk_stats(spark, grid, "grid")
    gcols = int(info["grid"][1])
    sroot = zonemap._sidecar_root(grid, "grid")
    dsz = MdioDataset.open(sroot)
    vmin = dsz.var("vmin").to_df(spark, value_col="vmin")
    vmax = dsz.var("vmax").to_df(spark, value_col="vmax")
    return (
        vmin.join(vmax, "dim_0")
        .select(
            F.expr(f"dim_0 div {gcols}").alias("crow"),
            (F.col("dim_0") % gcols).alias("ccol"),
            "vmin",
            "vmax",
            (F.col("vmax") < 450000.0).alias("would_prune"),
        )
        .orderBy("crow", "ccol")
    )


_CUBE_SQL = f"""
    WITH cube AS (
      SELECT CAST((rn - 1) // {CUBE_XL * CUBE_T} AS BIGINT) AS il,
             CAST(((rn - 1) // {CUBE_T}) % {CUBE_XL} AS BIGINT) AS xl,
             CAST((rn - 1) % {CUBE_T} AS BIGINT) AS t,
             o_totalprice AS v
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < {CUBE_IL * CUBE_XL * CUBE_T}
    )
"""


@declared(
    "zarr90_cube_scan",
    oracle=_CUBE_SQL + """
    SELECT il, xl, t, v FROM cube
    WHERE il BETWEEN 2 AND 5 AND xl < 4 AND t BETWEEN 4 AND 11
    ORDER BY il, xl, t
    """,
)
def zarr90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-volume extraction from a TRUE 3-D cube store (inline ×
    crossline × time — the reference's native seismic shape, SURVEY §2
    Q1 at rank 3): the store chunks on all three dims (4×4×8 boxes), so
    the il/xl/t isel ranges intersect the chunk grid BEFORE any byte
    read — here the 8 boxes shrink to the 4 overlapping the requested
    brick (pinned in test_zarr.test_cube_rank3_chunk_box_pruning), and
    partial overlaps trim in-memory after decode. This is
    the access pattern 100-TB seismic volumes live on: a crossline
    window of a time window of an inline window touches O(sub-volume)
    bytes, never O(cube). Values pass through untouched — exact."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    return (
        ds.isel(il=(2, 6), xl=(0, 4), t=(4, 12))
        .to_df(spark, "amp", value_col="v")
        .orderBy("il", "xl", "t")
    )


@declared(
    "zarr91_cube_reduce",
    oracle=_CUBE_SQL + """
    SELECT il, xl,
           CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS BIGINT) AS sum_e2,
           CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS DOUBLE) / (100.0 * COUNT(*))
           AS mean_amp
    FROM cube GROUP BY il, xl ORDER BY il, xl
    """,
)
def zarr91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-axis reduction over the 3-D cube: mean amplitude per (inline,
    crossline) — the horizon-slice/energy-map reduce (xarray
    ``mean(dim='t')`` at rank 3, zarr23's axis-reduce generalized past
    2-D). One partial-aggregatable groupBy on the two surviving dims;
    since chunks are 4×4×8 boxes and t is chunk-interior, every chunk
    contributes complete (il, xl) partials — the reduce is map-local per
    chunk with an 8×8-key exchange. Exact integer cents, one final
    division."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    scan = ds.var("amp").to_df(spark, value_col="v")
    s = F.sum(F.round(F.col("v") * 100).cast("long"))
    return (
        scan.groupBy("il", "xl")
        .agg(
            s.alias("sum_e2"),
            (s.cast("double") / (100.0 * F.count(F.lit(1)))).alias("mean_amp"),
        )
        .orderBy("il", "xl")
    )


@declared(
    "zarr92_time_slice",
    oracle=_CUBE_SQL + """
    SELECT il, xl, v FROM cube WHERE t = 9 ORDER BY il, xl
    """,
)
def zarr92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-slice extraction: the constant-t horizontal section through
    the 3-D cube (the interpreter's map view, orthogonal to zarr90's
    brick access). A single-index isel on the FASTEST-varying dim is the
    adversarial case for chunked layout: the slice intersects every
    (il, xl) chunk box but only t-chunks containing t=9 — here the 4
    boxes with t∈[8,16) survive pruning and each decodes once, trimming
    to one t-plane in memory. At 100 TB this is why cubes chunk on ALL
    dims (a t-major-only layout would read the whole volume for this
    query). Values pass through untouched."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    return (
        ds.isel(t=(9, 10))
        .to_df(spark, "amp", value_col="v")
        .select("il", "xl", "v")
        .orderBy("il", "xl")
    )


@declared(
    "zarr93_cube_coherence",
    oracle=_CUBE_SQL + """
    SELECT il, t,
           CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS DOUBLE)
             * SUM(CAST(ROUND(v * 100) AS BIGINT))
           / (COUNT(*) * CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)
                                  * CAST(ROUND(v * 100) AS BIGINT)) AS DOUBLE))
           AS semblance
    FROM cube GROUP BY il, t ORDER BY il, t
    """,
)
def zarr93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crossline coherence attribute over the 3-D cube: zarr77's
    semblance generalized to rank 3 — for every (inline, t) compute
    (Σ_xl c)²/(n·Σ_xl c²) across the 8 crosslines, producing a coherence
    SECTION per inline (low coherence ridges = faults/channels; this is
    the attribute volume interpreters actually autotrack). One
    partial-aggregatable groupBy on the two surviving dims with two exact
    integer-cent sums; chunks are 4×4×8 boxes so each contributes partial
    sums for its own (il, t) cells — map-local combine, |il|·|t| keys,
    identical double op order both engines."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    scan = ds.var("amp").to_df(spark, value_col="v")
    c = F.round(F.col("v") * 100).cast("long")
    cells = scan.select("il", "xl", "t", c.alias("c"))
    s1 = F.sum("c").cast("double")
    return (
        cells.groupBy("il", "t")
        .agg(
            (
                s1 * F.sum("c")
                / (F.count(F.lit(1)) * F.sum(F.col("c") * F.col("c")).cast("double"))
            ).alias("semblance")
        )
        .orderBy("il", "t")
    )


@declared(
    "zarr94_horizon_pick",
    oracle=_CUBE_SQL + """
    , c AS (SELECT il, xl, t, CAST(ROUND(v * 100) AS BIGINT) AS c FROM cube)
    SELECT il, xl, pick_t, c / 100.0 AS amp FROM (
      SELECT il, xl, t AS pick_t, c,
             ROW_NUMBER() OVER (PARTITION BY il, xl ORDER BY c DESC, t) AS rk
      FROM c) WHERE rk = 1 ORDER BY il, xl
    """,
)
def zarr94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon autopick over the 3-D cube: for every (inline, crossline)
    trace, the travel-time of its peak amplitude with a deterministic
    earliest-t tiebreak — the seed of every horizon-tracking workflow
    (zarr75 picked thresholds on 2-D; this is the rank-3 peak map). The
    pick is a partial-aggregatable MAX of a packed (amp, −t) struct per
    trace — ties decided on exact integer cents, 64 result rows, no
    window over data; chunk boxes combine map-locally since each holds 8
    consecutive t-samples of its 16 traces."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    scan = ds.var("amp").to_df(spark, value_col="v")
    cells = scan.select(
        "il", "xl", "t", F.round(F.col("v") * 100).cast("long").alias("c")
    )
    best = cells.groupBy("il", "xl").agg(
        F.max(F.struct(F.col("c").alias("c"), (-F.col("t")).alias("nt"))).alias("m")
    )
    return best.select(
        "il", "xl",
        (-F.col("m.nt")).cast("long").alias("pick_t"),
        (F.col("m.c") / 100.0).alias("amp"),
    ).orderBy("il", "xl")


@declared(
    "zarr95_cube_rms_windows",
    oracle=_CUBE_SQL + """
    SELECT il, xl, t // 8 AS win,
           sqrt(CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)
                         * CAST(ROUND(v * 100) AS BIGINT)) AS DOUBLE) / COUNT(*))
           / 100.0 AS rms
    FROM cube GROUP BY il, xl, t // 8 ORDER BY il, xl, win
    """,
)
def zarr95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS attribute volume: root-mean-square amplitude per
    8-sample time window of every (il, xl) trace — zarr84's QC attribute
    at rank 3, the interval-energy volume under bright-spot screening.
    The window key t div 8 aligns EXACTLY with the 4×4×8 chunk boxes, so
    every chunk computes complete window partials map-side and the
    exchange carries |il|·|xl|·|wins| finished sums — the
    chunk-aligned-aggregation design point the writer's chunkShape choice
    exists for. Exact integer cent² sums; sum/n, sqrt, /100 in identical
    order both engines."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    scan = ds.var("amp").to_df(spark, value_col="v")
    c = F.round(F.col("v") * 100).cast("long")
    cells = scan.select("il", "xl", F.expr("t div 8").alias("win"), c.alias("c"))
    return (
        cells.groupBy("il", "xl", "win")
        .agg(
            (
                F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double") / F.count(F.lit(1)))
                / 100.0
            ).alias("rms")
        )
        .orderBy("il", "xl", "win")
    )


@declared(
    "zarr96_cube_writeback",
    oracle=_CUBE_SQL + """
    SELECT il, xl, t,
           CAST(ROUND(v * 100) AS BIGINT) * CAST(ROUND(v * 100) AS BIGINT) AS e
    FROM cube ORDER BY il, xl, t
    """,
)
def zarr96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute write-back at RANK 3: derive an energy volume (cent²,
    int64) from the amp cube, DECLARE it as a new chunk-grid-aligned 3-D
    variable on the live store, write it through the chunk-keyed shuffle
    writer, republish metadata, and hash-gate a fresh reopen+scan of the
    WRITTEN BYTES against SQL — zarr49's dataset-evolution gate pushed to
    three dimensions (the attribute-volume workflow every interpretation
    shop runs: read cube → compute attribute → write sibling cube).
    Additive and idempotent on the shared fixture (same derived cells
    every run; `amp` readers untouched). One read pass, ONE 8-chunk-keyed
    write shuffle, one verification scan."""
    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "cube_v2.zarr")
    st = ZarrStore.open(path)
    if "energy" not in st.arrays():
        st.create_array(
            "energy", shape=(CUBE_IL, CUBE_XL, CUBE_T), chunks=(4, 4, 8),
            dtype="int64", dims=("il", "xl", "t"),
            compressor={"id": "zlib", "level": 1},
        )
        st.consolidate()
    ds = MdioDataset.open(path)
    c = F.round(F.col("v") * 100).cast("long")
    derived = ds.var("amp").to_df(spark, value_col="v").select(
        "il", "xl", "t", (c * c).alias("e")
    )
    from mdio_cpp_spark.sources.writer import write_array

    write_array(derived, path, "energy", value_cols="e")
    out = MdioDataset.open(path).var("energy").to_df(spark, value_col="e")
    return out.select("il", "xl", "t", "e").orderBy("il", "xl", "t")


@declared(
    "zarr97_cube_zonemap",
    oracle=_CUBE_SQL + """
    SELECT il, xl, t, v FROM cube WHERE v >= 450000.0 ORDER BY il, xl, t
    """,
)
def zarr97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning at RANK 3: sidecar chunk stats over the cube's
    4×4×8 boxes let a selective value predicate skip whole SUB-VOLUMES
    before any byte read — completing the zonemap matrix (zarr29 rank 1,
    zarr58 rank 2). The linear-chunk-id ravel the sidecar keys on is
    rank-agnostic by construction; the decoder's residual in-memory
    filter keeps exactness when a surviving box straddles the threshold.
    Values pass through untouched."""
    base = ensure_stores(spark, sf_dir)
    cube = os.path.join(base, "cube_v2.zarr")
    zonemap.ensure_chunk_stats(spark, cube, "amp")
    ds = MdioDataset.open(cube)
    return (
        ds.var("amp")
        .to_df(spark, value_col="v", value_filter=(">=", 450000.0))
        .orderBy("il", "xl", "t")
    )


@declared(
    "zarr98_cube_downsample",
    oracle=_CUBE_SQL + """
    SELECT il // 2 AS il2, xl // 2 AS xl2, t // 2 AS t2,
           CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS DOUBLE) / (100.0 * COUNT(*))
           AS mean_amp
    FROM cube GROUP BY 1, 2, 3 ORDER BY il2, xl2, t2
    """,
)
def zarr98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview (pyramid) level at RANK 3: 2×2×2 mean-pool of the cube —
    the multiscale decimation zarr34/zarr71 built for 2-D, generalized to
    the volume renderer's LOD ladder. One groupBy on the three halved
    indices; since 2 divides the 4×4×8 chunk edge on every axis, each
    pooled cell's 8 sources are chunk-interior — the reduce is map-local
    per chunk with an |il/2|·|xl/2|·|t/2|-key exchange of exact
    integer-cent partials, one final division."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    scan = ds.var("amp").to_df(spark, value_col="v")
    s = F.sum(F.round(F.col("v") * 100).cast("long"))
    return (
        scan.groupBy(
            F.expr("il div 2").alias("il2"),
            F.expr("xl div 2").alias("xl2"),
            F.expr("t div 2").alias("t2"),
        )
        .agg((s.cast("double") / (100.0 * F.count(F.lit(1)))).alias("mean_amp"))
        .orderBy("il2", "xl2", "t2")
    )


@declared(
    "zarr99_horizon_slice",
    oracle=_CUBE_SQL + """
    , c AS (SELECT il, xl, t, CAST(ROUND(v * 100) AS BIGINT) AS c FROM cube),
    picks AS (
      SELECT il, xl, t AS pick FROM (
        SELECT il, xl, t, ROW_NUMBER() OVER (PARTITION BY il, xl ORDER BY c DESC, t) AS rk
        FROM c) WHERE rk = 1)
    SELECT c.il, c.xl,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(c.c) AS DOUBLE) / (100.0 * COUNT(*)) AS horizon_amp
    FROM c JOIN picks p ON c.il = p.il AND c.xl = p.xl
    WHERE c.t BETWEEN p.pick - 1 AND p.pick + 1
    GROUP BY c.il, c.xl ORDER BY c.il, c.xl
    """,
)
def zarr99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-slice amplitude extraction: average the cube in a ±1-sample
    slab AROUND zarr94's autopicked surface — the attribute-along-horizon
    map that turns a structural pick into an interpretable amplitude
    anomaly view (the end of the cube chain: pick → extract → map). The
    pick table is |il|·|xl| tiny rows joined back BROADCAST onto the same
    chunk-pruned scan (zarr78's flatten idiom at rank 3); the slab filter
    is a map-side range test and the per-trace reduce is exact integer
    cents with one division. Two passes over the cube (pick, extract) —
    recomputing the pruned scan beats caching the volume at 100 TB."""
    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    scan = ds.var("amp").to_df(spark, value_col="v")
    cells = scan.select("il", "xl", "t", F.round(F.col("v") * 100).cast("long").alias("c"))
    picks = (
        cells.groupBy("il", "xl")
        .agg(F.max(F.struct(F.col("c").alias("c"), (-F.col("t")).alias("nt"))).alias("m"))
        .select("il", "xl", (-F.col("m.nt")).alias("pick"))
    )
    return (
        cells.join(F.broadcast(picks), ["il", "xl"])
        .filter(F.col("t").between(F.col("pick") - 1, F.col("pick") + 1))
        .groupBy("il", "xl")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (F.sum("c").cast("double") / (100.0 * F.count(F.lit(1)))).alias("horizon_amp"),
        )
        .orderBy("il", "xl")
    )


@declared(
    "zarr100_processing_line",
    oracle=_CELLS_CENTS + """
    , tgt AS (
      SELECT r.row, t.t0,
             CAST(floor(sqrt(CAST(t.t0 * t.t0 + 4 * r.row * r.row AS DOUBLE)))
                  AS BIGINT) AS i0
      FROM (SELECT unnest(range(16)) AS row) r,
           (SELECT unnest(range(48)) AS t0) t
    ),
    g AS (
      SELECT tgt.row, tgt.t0, c.c,
             LEAST(GREATEST(tgt.i0 - 2 * tgt.row + 1, 0), 4) AS wq
      FROM tgt JOIN cells c ON c.row = tgt.row AND c.col = tgt.i0
    )
    SELECT t0, CAST(SUM(wq) AS BIGINT) AS fold_q,
           CAST(SUM(c * wq) AS DOUBLE) / (100.0 * SUM(wq)) AS stack_v
    FROM g WHERE wq > 0 GROUP BY t0 ORDER BY t0
    """,
)
def zarr100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PROCESSING LINE: mute → NMO → weighted stack as ONE declarative
    plan — the round-trip argument that a user of the reference can run
    their whole 2-D flow as a single query. Each output sample gathers
    its moveout-corrected input (zarr80's analytic table, nearest-sample
    so cents STAY INTEGER), weights it by the offset-dependent mute taper
    evaluated at the corrected time (zarr82's clamped quarter-units), and
    the stack is a taper-weighted fold-normalized mean per t0. Every
    stage is exact integer arithmetic until the single final division —
    three processing steps, one broadcast join + one keyed reduce, no
    intermediate volumes materialized anywhere (contrast a pipeline of
    materialized mute/NMO cubes: here Catalyst fuses the whole line into
    the scan's projection)."""
    cells = _grid_cents(spark, sf_dir, 16)
    rows = spark.range(16).select(F.col("id").alias("row"))
    tgt = rows.select(
        "row", F.explode(F.sequence(F.lit(0), F.lit(47))).alias("t0")
    ).select(
        "row",
        "t0",
        F.floor(
            F.sqrt((F.col("t0") * F.col("t0") + 4 * F.col("row") * F.col("row")).cast("double"))
        ).alias("i0"),
    )
    wq = F.least(F.greatest(F.col("i0") - 2 * F.col("row") + 1, F.lit(0)), F.lit(4))
    g = (
        cells.select("row", F.col("col").alias("i0"), "c")
        .join(F.broadcast(tgt), ["row", "i0"])
        .select("t0", "c", wq.alias("wq"))
        .filter(F.col("wq") > 0)
    )
    return (
        g.groupBy("t0")
        .agg(
            F.sum("wq").alias("fold_q"),
            (F.sum(F.col("c") * F.col("wq")).cast("double") / (100.0 * F.sum("wq"))).alias("stack_v"),
        )
        .orderBy("t0")
    )


@declared(
    "zarr101_corner_turn",
    oracle=_CELLS_CENTS + """
    SELECT col, row, c / 100.0 AS v
    FROM cells WHERE row < 16 ORDER BY col, row
    """,
)
def zarr101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORNER TURN: materialize the transpose of the 2-D grid into a NEW
    store with transposed dims AND transposed chunking — the famous
    seismic re-layout (trace-order → slice-order) that turns zarr92's
    adversarial access pattern into a sequential one, and historically
    the single most IO-bound step in a processing shop. On Spark it is
    exactly ONE chunk-keyed shuffle: the pruned scan re-keys (row, col) →
    (col, row) map-side, the writer's chunk-aligned repartition routes
    every cell to its TRANSPOSED chunk owner, and whole chunks write
    once. The gate reopens the new store and hash-matches the written
    bytes against the transposed SQL — write-path verification at a
    chunking the source store never had. Idempotent per build marker
    (own store; shared fixtures untouched)."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    src = MdioDataset.open(os.path.join(base, "grid_v2.zarr"))
    path = os.path.join(base, "corner.zarr")
    marker = os.path.join(base, ".built_corner_v1")
    scan = src.isel(row=(0, 16)).to_df(spark, "grid", value_col="v")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        st = ZarrStore.create(path, version=2, attrs={"name": "corner_mdio"})
        st.create_array(
            "gridT", shape=(GRID_C, 16), chunks=(32, 8),
            dtype="float64", dims=("col", "row"),
            compressor={"id": "zlib", "level": 1},
        )
        st.consolidate()
        write_array(
            scan.select("col", "row", "v"), path, "gridT", value_cols="v"
        )
        with open(marker, "w") as f:
            f.write("ok")
    out = MdioDataset.open(path).var("gridT").to_df(spark, value_col="v")
    return out.select("col", "row", "v").orderBy("col", "row")


@declared(
    "zarr102_phase",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           ROUND(atan2(CAST(o_custkey * 100 AS BIGINT),
                       CAST(ROUND(o_totalprice * 100) AS BIGINT)), 4) AS phase
    FROM (SELECT o_totalprice, o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 900 AND rn - 1 < 5000
    ORDER BY i
    """,
)
def zarr102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instantaneous phase arg(z) = atan2(im, re) over the stored
    complex128 array — zarr72's amplitude twin, together the polar
    decomposition seismic attribute work starts from. The arguments are
    exact integer cents (scaling cancels inside atan2), so the single
    transcendental is the ONLY inexact op; atan2's libm-vs-java.lang.Math
    ULP drift is absorbed by the 4dp display contract (a15's rule —
    contrast zarr72, whose sqrt is correctly rounded and ships unrounded).
    Pure map-side arithmetic over the chunk-pruned slice."""
    ds = MdioDataset.open(_main_store(spark, sf_dir))
    df = ds.isel(i=(900, 5000)).to_df(spark, "cpx")
    re_c = F.round(F.col("value_re") * 100).cast("long")
    im_c = (F.col("value_im") * 100).cast("long")
    return df.select(
        "i", F.round(F.atan2(im_c, re_c), 4).alias("phase")
    ).orderBy("i")


@declared(
    "zarr103_npy_export",
    oracle=_CUBE_SQL + """
    SELECT il, xl, t, v FROM cube
    WHERE il BETWEEN 2 AND 5 AND xl BETWEEN 1 AND 4 AND t BETWEEN 4 AND 11
    ORDER BY il, xl, t
    """,
)
def zarr103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real_data_example's export sink (real_data_example.cc:63-78:
    isel a sub-volume, read into one accessor, ``WriteNumpy`` a .npy): the
    chunk-pruned rank-3 selection materializes driver-side under
    utils/npy.py's hard size bound, round-trips through the public npy v1.0
    format, and the frame returned is what a CONSUMER reads back from the
    file — so the gate pins the full export chain (chunk-box pruning →
    C-order assembly → header/bytes → reload), not just the scan. Bounded
    by contract: .npy is a single driver buffer; volume-scale exports go
    per-chunk (mm09 shard shape) or via to_df + a distributed sink."""
    from mdio_cpp_spark.utils.npy import export_npy, import_npy

    base = ensure_stores(spark, sf_dir)
    ds = MdioDataset.open(os.path.join(base, "cube_v2.zarr"))
    sel = ds.isel(il=(2, 6), xl=(1, 5), t=(4, 12))
    path = os.path.join(base, "export_amp.npy")
    shape = export_npy(sel.var("amp"), path)
    arr = import_npy(path)
    assert arr.shape == shape == (4, 4, 8)
    idx = np.indices(arr.shape)
    cols = ((idx[0] + 2).ravel(), (idx[1] + 1).ravel(), (idx[2] + 4).ravel(), arr.ravel())
    return local_frame(spark, zip(*(c.tolist() for c in cols)),
                       "il long, xl long, t long, v double")


@declared(
    "zarr104_blosc_lz4_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 500 AND rn - 1 < 4500
    """,
)
def zarr104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blosc-LZ4 store round-trip with NO wheel — zarr51's gate extended to
    the reference's DEFAULT cname (dataset_factory.h:244 resolve_blosc_cname
    returns "lz4" when the spec names none): chunks encode and
    decode through pyarrow's native ``lz4_raw`` block kernel inside blosc1
    frames, INCLUDING c-blosc's split-stream layout (full blocks here split
    into 8 byte-lane sub-streams: typesize 8, block/8 >= 128). Decode sniffs
    split vs single-stream from each block's region extent, so reading
    c-blosc's own frames does not depend on replicating its predicate
    constants. Store built once (a store built by the earlier pure-Python
    lz4 encoder reads unchanged), then a chunk-pruned isel slice
    aggregates against the orders oracle."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "blosc_lz4.zarr")
    marker = os.path.join(base, ".built_blosc_lz4_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "blosc_lz4_mdio"})
        st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64", dims=("i",),
            compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                        "shuffle": 1, "typesize": 8},
        )
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(500, 4500)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


# DFT trig table, quantized to integer micro-units in PYTHON so both engines
# consume identical literals: k frequencies × GRID_C sample positions
_DFT_K = 8


def _dft_trig_rows() -> list[tuple[int, int, int, int]]:
    import math as _m

    out = []
    for k in range(_DFT_K):
        for t in range(GRID_C):
            ang = 2.0 * _m.pi * k * t / GRID_C
            out.append((k, t, round(_m.cos(ang) * 1_000_000),
                        round(-_m.sin(ang) * 1_000_000)))
    return out


def _dft_trig_values_sql() -> str:
    rows = ", ".join(f"({k}, {t}, {cq}, {sq})" for k, t, cq, sq in _dft_trig_rows())
    return f"(VALUES {rows}) AS trig(k, t, cq, sq)"


@declared(
    "zarr105_dft_spectrum",
    oracle=_CELLS_CENTS + f"""
    SELECT row, k,
           ROUND(sqrt(CAST(re AS DOUBLE) * re + CAST(im AS DOUBLE) * im)
                 / 100000000.0, 4) AS amp
    FROM (
      SELECT c2.row, trig.k,
             CAST(SUM(c2.c * trig.cq) AS BIGINT) AS re,
             CAST(SUM(c2.c * trig.sq) AS BIGINT) AS im
      FROM (SELECT * FROM cells WHERE row < 8) c2
      JOIN {_dft_trig_values_sql()} ON trig.t = c2.col
      GROUP BY c2.row, trig.k
    ) ORDER BY row, k
    """,
)
def zarr105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fourier power spectrum of each stored trace (first 8 grid
    rows × the full 64-sample col axis, 8 frequency bins) — the spectral
    primitive behind f-k filtering and resonance QC that zarr81's Walsh
    transform only approximates with square waves. The trig basis is
    QUANTIZED to integer micro-units once in Python and embedded in both
    engines as the same 512 literals, so Σ c·cos and Σ c·sin are exact
    integer dot products (no float accumulation, no libm parity risk);
    one sqrt per (trace, bin) converts to amplitude at the end. Shape: the
    basis broadcasts (|k|·|t| rows), the chunk-pruned scan fans out |k|×
    per cell map-side, and ONE partial agg keyed on (row, k) reduces —
    more frequencies grow the broadcast, never the scan count."""
    cells = _grid_cents(spark, sf_dir, 8)
    trig = local_frame(
        cells.sparkSession, _dft_trig_rows(), "k long, t long, cq long, sq long"
    )
    j = cells.join(F.broadcast(trig), cells["col"] == trig["t"])
    g = j.groupBy("row", "k").agg(
        F.sum(F.col("c") * F.col("cq")).alias("re"),
        F.sum(F.col("c") * F.col("sq")).alias("im"),
    )
    amp = F.round(
        F.sqrt(
            F.col("re").cast("double") * F.col("re")
            + F.col("im").cast("double") * F.col("im")
        )
        / 100000000.0,
        4,
    )
    return g.select("row", "k", amp.alias("amp")).orderBy("row", "k")


# inverse-DFT trig at 1e3 quantization (coarser on purpose: the inverse
# multiplies the ~1e15-magnitude forward sums, so headroom matters more
# than basis resolution); same Python-literal sharing as the forward table
_BP_BAND = (1, 2, 3)  # keep bins 1..3 of 8 — a low-cut + high-cut bandpass


def _bp_itrig_rows() -> list[tuple[int, int, int, int]]:
    import math as _m

    out = []
    for k in _BP_BAND:
        for t in range(GRID_C):
            ang = 2.0 * _m.pi * k * t / GRID_C
            out.append((k, t, round(_m.cos(ang) * 1000), round(_m.sin(ang) * 1000)))
    return out


def _bp_itrig_values_sql() -> str:
    rows = ", ".join(f"({k}, {t}, {c2}, {s2})" for k, t, c2, s2 in _bp_itrig_rows())
    return f"(VALUES {rows}) AS itrig(k, t, c2, s2)"


# exact int64 floor-division by 10^6, written the same way in both engines:
# subtract the POSITIVE remainder, then the division is exact (the quotient
# magnitude ≤ ~3e9 is exactly representable, so the double divide can't
# round) — a bare floor(x / 1e6) could disagree with integer // at exact
# multiples after the double rounds
_BP_FDIV_SQL = "CAST((({x}) - ((({x}) % 1000000 + 1000000) % 1000000)) / 1000000 AS BIGINT)"


@declared(
    "zarr106_bandpass",
    oracle=_CELLS_CENTS + f"""
    , fwd AS (
      SELECT c2.row, trig.k,
             CAST(SUM(c2.c * trig.cq) AS BIGINT) AS re,
             CAST(SUM(c2.c * trig.sq) AS BIGINT) AS im
      FROM (SELECT * FROM cells WHERE row < 4) c2
      JOIN {_dft_trig_values_sql()} ON trig.t = c2.col
      WHERE trig.k IN {_BP_BAND}
      GROUP BY c2.row, trig.k),
    scaled AS (
      SELECT row, k,
             {_BP_FDIV_SQL.format(x='re')} AS re_s,
             {_BP_FDIV_SQL.format(x='im')} AS im_s
      FROM fwd)
    SELECT s.row, itrig.t,
           ROUND(2.0 * CAST(SUM(s.re_s * itrig.c2 - s.im_s * itrig.s2) AS DOUBLE)
                 / ({GRID_C} * 1000.0 * 100.0), 3) AS y
    FROM scaled s JOIN {_bp_itrig_values_sql()} ON itrig.k = s.k
    GROUP BY s.row, itrig.t ORDER BY s.row, itrig.t
    """,
)
def zarr106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDPASS filter of stored traces entirely in the engine: forward DFT
    restricted to bins 1–3 (zarr105's integer-quantized basis), then the
    inverse synthesis back to the 64 time samples — the f-k-style filter a
    processing line applies before stacking. Exactness chain: forward sums
    are exact int64 dot products; the rescale to inverse headroom is an
    explicit remainder-subtracting floor division (bare floor(x/1e6) could
    disagree with integer // at exact multiples once the double rounds);
    the inverse is again an exact integer dot product with a coarser 1e3
    basis; ONE double op (the final 2/(N·scales) normalization) per output
    cell. Shape: both trig tables broadcast, the scan reduces to |band|
    coefficients per trace, the synthesis fans those out |t|× map-side —
    chunk count and trace length never multiply."""
    cells = _grid_cents(spark, sf_dir, 4)
    ss = cells.sparkSession
    trig = local_frame(
        ss, [r for r in _dft_trig_rows() if r[0] in _BP_BAND],
        "k long, t long, cq long, sq long",
    )
    fwd = (
        cells.join(F.broadcast(trig), cells["col"] == trig["t"])
        .groupBy("row", "k")
        .agg(
            F.sum(F.col("c") * F.col("cq")).alias("re"),
            F.sum(F.col("c") * F.col("sq")).alias("im"),
        )
    )

    def fdiv(col):
        return ((col - ((col % 1000000 + 1000000) % 1000000)) / 1000000).cast("long")

    scaled = fwd.select(
        "row", "k", fdiv(F.col("re")).alias("re_s"), fdiv(F.col("im")).alias("im_s")
    )
    itrig = local_frame(ss, _bp_itrig_rows(), "k long, t long, c2 long, s2 long")
    y = (
        scaled.join(F.broadcast(itrig), "k")
        .groupBy("row", "t")
        .agg(
            F.round(
                2.0
                * F.sum(
                    F.col("re_s") * F.col("c2") - F.col("im_s") * F.col("s2")
                ).cast("double")
                / (GRID_C * 1000.0 * 100.0),
                3,
            ).alias("y")
        )
    )
    return y.orderBy("row", "t")


@declared(
    "zarr107_v3_v2key_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 700 AND rn - 1 < 5300
    """,
)
def zarr107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v3 store using the spec's 'v2' chunk-key encoding (bare "0.1"
    keys, "." separator — the layout a store migrated from zarr v2 keeps;
    spec §chunk-key-encoding, reference accepts both via TensorStore). The
    store is WRITTEN through the distributed writer with
    chunk_key_encoding="v2" — the builder asserts the on-disk keys really
    are bare (no c/ tree) so the gate can't silently pass through the
    default scheme — then read back via a chunk-pruned isel slice against
    the orders oracle. Completes v3 read+write coverage for both spec key
    schemes (the old guard refused 'v2' loudly)."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "v3_v2keys.zarr")
    marker = os.path.join(base, ".built_v3_v2keys_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=3, attrs={"name": "v3_v2keys_mdio"})
        st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64", dims=("i",),
            compressor={"id": "gzip", "level": 3},
            chunk_key_encoding="v2",
        )
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        assert os.path.exists(os.path.join(path, "price", "0")), (
            "v2-encoded chunk keys missing — writer fell back to default scheme"
        )
        assert not os.path.exists(os.path.join(path, "price", "c")), (
            "default-scheme c/ tree present under v2 chunk-key encoding"
        )
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(700, 5300)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr108_blosclz_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 300 AND rn - 1 < 4100
    """,
)
def zarr108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blosc-BLOSCLZ store round-trip with NO wheel — closes the last
    wheel-free cname the reference accepts (dataset_factory.h:288-386;
    blosclz enumerated at dataset_schema.h:148). BloscLZ is c-blosc's
    native LZ77 (public token format, FastLZ level-2 derivative) and has
    no other implementation anywhere, so sources/blosclz.py implements it
    pure-Python; chunks encode and decode through it inside blosc1 frames
    INCLUDING c-blosc's split-stream layout (blosclz is in the
    FORWARD_COMPAT split list alongside lz4: typesize 8 sub-streams here).
    Store built once through the distributed writer, then a chunk-pruned
    isel slice aggregates against the orders oracle — zarr104's lz4 gate
    mirrored for the remaining cname."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "blosclz.zarr")
    marker = os.path.join(base, ".built_blosclz_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "blosclz_mdio"})
        st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64", dims=("i",),
            compressor={"id": "blosc", "cname": "blosclz", "clevel": 5,
                        "shuffle": 1, "typesize": 8},
        )
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(300, 4100)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


# -------------------------------------- stored TRAINED ANN index (v15)

def _trained_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Like _ivf_store, but the coarse quantizer is TRAINED in-engine
    (similarity.lloyd_train: fixed-iteration Lloyd with quantized
    recentering) before being persisted — centroids are k-means means, not
    raw exemplar vectors, and the cell array holds assignments under the
    trained quantizer (round-5 verdict item 6: the v09 path upgraded from
    exemplar to trained centroids)."""
    from mdio_cpp_spark.operators import similarity
    from mdio_cpp_spark.plans.pipeline import _IVF_CELLS, _LLOYD_ITERS
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "ivf_trained.zarr")
    marker = os.path.join(base, ".built_ivf_trained_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        e = table(spark, sf_dir, "embeddings")
        n = e.count()
        cents = similarity.lloyd_train(
            e, "vec_id", "embedding", k=_IVF_CELLS, iters=_LLOYD_ITERS
        )
        dim = len(cents[0][1])
        cdf = local_frame(
            spark, [(c, v) for c, v in cents], "cid long, cv array<double>"
        )
        assign = similarity.ivf_assign(e, "vec_id", "embedding", cdf)
        st = ZarrStore.create(path, version=2, attrs={"name": "ivf_trained"})
        st.create_array("cell", shape=(n,), chunks=(CHUNK,), dtype="int64",
                        dims=("i",), compressor={"id": "zlib", "level": 1})
        st.create_array("centroid", shape=(_IVF_CELLS, dim),
                        chunks=(_IVF_CELLS, dim), dtype="float64",
                        dims=("c", "d"), compressor={"id": "zlib", "level": 1})
        st.consolidate()
        write_array(
            assign.select(F.col("vec_id").alias("i"), F.col("cell").alias("v")),
            path, "cell", value_cols="v",
        )
        cent_rows = [
            (int(c), int(d), float(x))
            for c, v in cents for d, x in enumerate(v)
        ]
        write_array(
            local_frame(spark, cent_rows, "c long, d long, v double"),
            path, "centroid", value_cols="v",
        )
        with open(marker, "w") as f:
            f.write("ok")
    return path


def _v15_oracle() -> str:
    from mdio_cpp_spark.plans.pipeline import (
        _IVF_CELLS,
        _LLOYD_ITERS,
        _dd_cosine,
        _lloyd_cents_ctes,
    )

    return f"""
    WITH {_lloyd_cents_ctes(_IVF_CELLS, _LLOYD_ITERS)},
    af AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY ROUND({_dd_cosine("e.embedding", "c.cv")}, 6) DESC,
                          c.cid DESC) AS r
        FROM embeddings e CROSS JOIN cvf c
      ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv, cell FROM af WHERE vec_id < 3)
    SELECT q_id, vec_id, cos, rk FROM (
      SELECT q.q_id, e.vec_id, ROUND({_dd_cosine("q.qv", "e.embedding")}, 4) AS cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id
                  ORDER BY ROUND({_dd_cosine("q.qv", "e.embedding")}, 4) DESC, e.vec_id) AS BIGINT) AS rk
      FROM q JOIN af e ON e.cell = q.cell AND e.vec_id <> q.q_id
    ) WHERE rk <= 5 ORDER BY q_id, rk
    """


@declared("v15_trained_ivf", oracle=_v15_oracle())
def v15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from a PERSISTED **trained** index: v09's store-resident
    IVF upgraded from exemplar to Lloyd-trained centroids. The quantizer is
    trained in-engine (similarity.lloyd_train), the K×dim trained means and
    the per-vector cell assignments are written to an MDIO store, then the
    query path REOPENS the store: reassemble centroid vectors from the
    centroid array, assign the 3 query vectors map-side, search only each
    query's cell over the stored cell array joined to the parquet payload.
    The oracle replays the ENTIRE training recurrence in SQL and then the
    same cell-restricted search — so the gate covers training, persistence
    round-trip (float64 exact), and serving in one differential."""
    from mdio_cpp_spark.operators import similarity
    from mdio_cpp_spark.operators.similarity import _ranked
    from mdio_cpp_spark.functions import vectors

    path = _trained_ivf_store(spark, sf_dir)
    ds = MdioDataset.open(path)
    cents = (
        ds.to_df(spark, "centroid", value_col="x")
        .groupBy(F.col("c").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "x"))), lambda s: s["x"]
            ).alias("cv")
        )
    )
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    q_assigned = F.broadcast(
        similarity.ivf_assign(q, "vec_id", "embedding", cents).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "cell"
        )
    )
    corpus = (
        ds.to_df(spark, "cell", value_col="cell")
        .select(F.col("i").alias("vec_id"), "cell")
        .join(e, "vec_id")
    )
    pairs = (
        corpus.join(q_assigned, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            F.round(vectors.cosine(F.col("qv"), F.col("embedding")), 4).alias("cos"),
        )
    )
    return _ranked(pairs, 5).orderBy("q_id", "rk")


def _ensure_sharded_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture: the v3 sharded orders-price store zarr109 reads
    locally and zarr119 re-reads over loopback HTTP."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "sharded.zarr")
    marker = os.path.join(base, ".built_sharded_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=3, attrs={"name": "sharded_mdio"})
        st.create_array(
            "price", shape=(n,), chunks=(512,), shards=(CHUNK * 2,),
            dtype="float64", dims=("i",),
            compressor={"id": "gzip", "level": 3},
        )
        write_array(ords, path, "price", value_cols="v")
        st.consolidate()
        with open(marker, "w") as f:
            f.write("1")
    return path


@declared(
    "zarr109_sharded_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 900 AND rn - 1 < 6100
    """,
)
def zarr109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v3 SHARDED store (ZEP 2, `sharding_indexed`) round-trip — the
    100-TB object-store layout: one storage object per shard holds many
    inner chunks plus a crc32c-guarded (offset, nbytes) u64-LE index, so a
    12M-chunk grid becomes ~thousands of objects instead of millions. The
    reference reads v3 via TensorStore, which WRITES this codec — sharded
    stores are real read-compat surface, not an extension. Here the
    distributed writer shuffles on the SHARD grid (meta.chunks is the
    shard shape — pruning, keys, zone maps, and write-exclusivity all
    operate per shard with no sharding-specific Spark code), inner chunks
    encode through the ordinary v3 chain, all-fill inner chunks are elided
    as MISSING index entries, and the chunk-pruned isel read aggregates
    against the orders oracle. Independent decode is pinned by the
    spec reader's own shard/crc32c parser (tests/test_sharding.py)."""
    path = _ensure_sharded_store(spark, sf_dir)
    ds = MdioDataset.open(path)
    return ds.isel(i=(900, 6100)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr110_snappy_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 700 AND rn - 1 < 4700
    """,
)
def zarr110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blosc-SNAPPY store round-trip with NO wheel — the last non-zstd
    cname the reference accepts (dataset_factory.h:288-386; snappy
    enumerated at dataset_schema.h:148). google/snappy's raw block format
    is public (format_description.txt); pyarrow's native ``snappy`` kernel
    decodes and encodes it (the stream's length preamble checked against
    the block size), dispatched as cname id 2 inside blosc1 frames (snappy is NOT in c-blosc's FORWARD_COMPAT split
    list, so blocks stay single-stream). Store built once through the
    distributed writer, then a chunk-pruned isel slice aggregates against
    the orders oracle — zarr108's blosclz gate mirrored for snappy."""
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "snappy.zarr")
    marker = os.path.join(base, ".built_snappy_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=2, attrs={"name": "snappy_mdio"})
        st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64", dims=("i",),
            compressor={"id": "blosc", "cname": "snappy", "clevel": 5,
                        "shuffle": 1, "typesize": 8},
        )
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(700, 4700)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr112_sharded_lz4_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(price), 2) AS total,
           MIN(price) AS min_v, MAX(price) AS max_v
    FROM (SELECT o_totalprice AS price, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1100 AND rn - 1 < 5900 AND price >= 200000.0
    """,
)
def zarr112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharding COMPOSED with a compressed inner chain under pushdown: the
    shard's inner chunks encode through blosc-lz4 (pyarrow's ``lz4_raw``
    inside blosc1 frames), and the scan arrives through the SQL surface —
    ``spark.read.format('mdio')`` with BOTH a dimension-range filter
    (consumed into the chunk-pruning box, so sharded metas take the
    partial range-GET path: index suffix + only the touched inner chunks,
    sources/zarr_store.decode_chunk_box) and a value predicate (consumed
    by pushFilters, decoder-exact numpy mask). The byte-fetch shape is
    pinned by pytest (tests/test_sharding.py
    test_sharded_lz4_dsv2_pushdown_fetches_only_touched_ranges); this gate
    pins the VALUES against the orders oracle."""
    from mdio_cpp_spark.sources.datasource import register
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "sharded_lz4.zarr")
    marker = os.path.join(base, ".built_sharded_lz4_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(path, version=3, attrs={"name": "sharded_lz4"})
        st.create_array(
            "price", shape=(n,), chunks=(512,), shards=(CHUNK * 2,),
            dtype="float64", dims=("i",),
            compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                        "shuffle": 1},
        )
        st.consolidate()
        write_array(ords, path, "price", value_cols="v")
        with open(marker, "w") as f:
            f.write("1")
    register(spark)
    return (
        spark.read.format("mdio")
        .option("path", path).option("variable", "price")
        .load()
        .filter((F.col("i") >= 1100) & (F.col("i") < 5900)
                & (F.col("value") >= 200000.0))
        .agg(
            F.count("value").cast("long").alias("cnt"),
            F.round(F.sum("value"), 2).alias("total"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


@declared(
    "zarr111_zstd_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(price), 2) AS total,
           MIN(price) AS min_v, MAX(price) AS max_v
    FROM (SELECT o_totalprice AS price, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 500 AND rn - 1 < 5300
    """,
)
def zarr111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v3 ZSTD store read — the de-facto default codec of externally-
    written v3 stores, decoded by pyarrow's native zstd kernel into the
    chunk's exact byte size (the pure-Python RFC 8878 oracle in
    tests/oracles/zstd.py checks it differentially). THIS gate's chunk objects are HANDCRAFTED here
    — multi-block zstd frames assembled with struct.pack straight from the
    RFC's frame/block layout, no engine encoder involved — then the
    chunk-pruned distributed scan reads them back against the orders
    oracle."""
    import struct as _st

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "zstd.zarr")
    marker = os.path.join(base, ".built_zstd_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        vals = [
            float(r["v"])
            for r in _orders_indexed(spark, sf_dir)
            .select("i", F.col("o_totalprice").alias("v"))
            .orderBy("i")
            .collect()
        ]
        import numpy as np

        n = len(vals)
        st = ZarrStore.create(path, version=3, attrs={"name": "zstd_mdio"})
        meta = st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64",
            dims=("i",), compressor={"id": "zstd", "level": 3},
        )
        arr = np.asarray(vals, dtype="<f8")
        for c in range((n + CHUNK - 1) // CHUNK):
            block = arr[c * CHUNK : (c + 1) * CHUNK]
            if len(block) < CHUNK:  # edge chunk padded with fill (NaN)
                block = np.concatenate(
                    [block, np.full(CHUNK - len(block), np.nan)])
            raw = block.tobytes()
            # handcraft the frame: magic, single-segment header with an
            # exact 4-byte FCS, payload split across TWO raw blocks
            half = len(raw) // 2
            frame = _st.pack("<I", 0xFD2FB528)
            frame += bytes([(2 << 6) | 0x20])  # single_segment | fcs_flag 2
            frame += _st.pack("<I", len(raw))
            frame += (0 | (half << 3)).to_bytes(3, "little") + raw[:half]
            frame += (1 | ((len(raw) - half) << 3)).to_bytes(3, "little")
            frame += raw[half:]
            st.write_bytes(meta.chunk_key((c,)), frame)
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(500, 5300)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr113_reshard_migration",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(price), 2) AS total,
           MIN(price) AS min_v, MAX(price) AS max_v
    FROM (SELECT o_totalprice AS price, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1500 AND rn - 1 < 6900
    """,
)
def zarr113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard MIGRATION: a legacy v2 zlib store (one object per 2048-cell
    chunk) is migrated by utils/transcode.reshard_array into the ZEP-2
    sharded v3 layout (4096-cell shards of 512-cell blosc-lz4 inner
    chunks) — the move a petascale store makes to stop melting object
    stores under millions of tiny objects. The copy partitions over
    DESTINATION shards (each task reads exactly its shard's source box,
    writes ONE object; zero shuffle; all-fill shards elided; stale-grid
    zone maps dropped), then the chunk-pruned partial-read scan aggregates
    the migrated store against the orders oracle."""
    from mdio_cpp_spark.utils.transcode import reshard_array
    from mdio_cpp_spark.sources.writer import write_array

    base = ensure_stores(spark, sf_dir)
    legacy = os.path.join(base, "reshard_src.zarr")
    path = os.path.join(base, "resharded.zarr")
    marker = os.path.join(base, ".built_resharded_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(legacy, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v")
        )
        n = ords.count()
        st = ZarrStore.create(legacy, version=2, attrs={"name": "reshard_src"})
        st.create_array(
            "price", shape=(n,), chunks=(CHUNK,), dtype="float64", dims=("i",),
            compressor={"id": "zlib", "level": 1},
        )
        st.consolidate()
        write_array(ords, legacy, "price", value_cols="v")
        reshard_array(
            spark, legacy, path, "price", shards=(CHUNK * 2,),
            inner_chunks=(512,),
            compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                        "shuffle": 1},
        )
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(1500, 6900)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@declared(
    "zarr114_reshard_struct",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(o_orderkey * 2) AS BIGINT) AS sum_ok2,
           CAST(MIN(o_orderkey * 2) AS BIGINT) AS min_ok2,
           CAST(MAX(o_orderkey * 2) AS BIGINT) AS max_ok2
    FROM (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1200 AND rn - 1 < 12000
    """,
)
def zarr114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard migration of a STRUCT-dtype v2 store (round-8 lift): the
    legacy header array (record dtype {ck:int32, ok2:int64}, zlib chunks)
    migrates into sharded v3 with blosc-ZSTD inner chunks — the round-8
    compressed-block encoder on the write side. The source shape carries
    two shard-widths of pure-fill tail, and the build asserts those shards
    were ELIDED (bytes-level struct fill detection, utils/transcode.py),
    not written. The scan then SelectFields ok2 out of the migrated store;
    fill rows drop via the pushed value filter."""
    from mdio_cpp_spark.utils.transcode import reshard_array
    from mdio_cpp_spark.sources.writer import write_arrays

    base = ensure_stores(spark, sf_dir)
    legacy = os.path.join(base, "reshard_struct_src.zarr")
    path = os.path.join(base, "resharded_struct.zarr")
    marker = os.path.join(base, ".built_resharded_struct_v1")
    shard = CHUNK * 2
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(legacy, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i",
            F.col("o_custkey").cast("int").alias("ck"),
            (F.col("o_orderkey") * 2).cast("long").alias("ok2"),
        )
        n = ords.count()
        st = ZarrStore.create(legacy, version=2,
                              attrs={"name": "reshard_struct_src"})
        st.create_array(
            "hdr", shape=(n + 2 * shard,), chunks=(CHUNK,),
            dtype={"fields": [{"name": "ck", "format": "int32"},
                              {"name": "ok2", "format": "int64"}]},
            dims=("i",), compressor={"id": "zlib", "level": 1},
        )
        st.consolidate()
        write_arrays(ords, legacy, {"hdr": {"ck": "ck", "ok2": "ok2"}})
        report = reshard_array(
            spark, legacy, path, "hdr", shards=(shard,),
            compressor={"id": "blosc", "cname": "zstd", "clevel": 3,
                        "shuffle": 1},
        )
        # the gate's point: struct shards that are pure fill get elided
        if report["shards_written"] > report["shards_total"] - 2:
            raise AssertionError(
                f"struct fill elision regressed: {report}")
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return (
        ds.isel(i=(1200, 12000))
        .select_field(spark, "hdr", "ok2")
        .where(F.col("ok2") > 0)
        .agg(
            F.count("ok2").cast("long").alias("cnt"),
            F.sum("ok2").cast("long").alias("sum_ok2"),
            F.min("ok2").cast("long").alias("min_ok2"),
            F.max("ok2").cast("long").alias("max_ok2"),
        )
    )


def _ensure_segy_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per sf) the SEG-Y rev1 fixture file + its ingested
    PostStack3D cube store. Trace t carries inline 10 + t//32, crossline
    5 + t%32, and 16 IBM-float samples (okey%65536)*16 + s — integers
    < 2^24, so IBM encoding is EXACT and every derived gate hash-matches.
    Returns (sgy_path, cube_store_path)."""
    import struct as _st

    from mdio_cpp_spark.sources.segy import ingest_to_store

    base = ensure_stores(spark, sf_dir)
    sgy = os.path.join(base, "fixture.sgy")
    path = os.path.join(base, "segy_cube.zarr")
    marker = os.path.join(base, ".built_segy_v2")
    W, CAP, NS = 32, 2048, 16
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        okeys = [int(r[0]) for r in _orders_indexed(spark, sf_dir)
                 .orderBy("i").select("o_orderkey").limit(CAP).collect()]
        n_tr = (len(okeys) // W) * W
        okeys = okeys[:n_tr]

        def ibm_u32(v: int) -> int:
            # integer < 2^24 → exact IBM: h hex digits, exp 64+h,
            # fraction left-justified to 24 bits
            h = max(1, (v.bit_length() + 3) // 4)
            return ((64 + h) << 24) | (v << (24 - 4 * h))

        out = bytearray()
        out += ("C 1 spark-graft segy01 fixture".ljust(3200)).encode("ascii")
        bh = bytearray(400)
        _st.pack_into(">h", bh, 16, 2000)  # sample interval us
        _st.pack_into(">h", bh, 20, NS)
        _st.pack_into(">h", bh, 24, 1)  # IBM float
        _st.pack_into(">h", bh, 300, 0x0100)
        _st.pack_into(">h", bh, 302, 1)
        out += bh
        for t, ok in enumerate(okeys):
            th = bytearray(240)
            _st.pack_into(">i", th, 0, t + 1)
            _st.pack_into(">h", th, 70, -100)  # coord scalar: divide by 100
            _st.pack_into(">i", th, 72, 100 * (2000 + t % W) + 25)  # source_x
            _st.pack_into(">i", th, 76, 100 * (7000 + t // W) + 75)  # source_y
            _st.pack_into(">h", th, 114, NS)
            _st.pack_into(">i", th, 188, 10 + t // W)  # inline
            _st.pack_into(">i", th, 192, 5 + t % W)  # crossline
            out += th
            v0 = (ok % 65536) * 16
            out += b"".join(_st.pack(">I", ibm_u32(v0 + s)) for s in range(NS))
        with open(sgy, "wb") as f:
            f.write(out)
        ingest_to_store(spark, sgy, path, grid_by=("inline", "crossline"),
                        chunks=(8, 16, NS), compressor={"id": "zlib", "level": 1})
        with open(marker, "w") as f:
            f.write("1")
    return sgy, path


@declared(
    "segy01_ingest",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM (
      SELECT ((o.o_orderkey % 65536) * 16 + s.s) AS v
      FROM (SELECT o_orderkey,
                   ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS t
            FROM orders) o
      CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),
                         (8),(9),(10),(11),(12),(13),(14),(15)) AS s(s)
      WHERE o.t < LEAST((SELECT COUNT(*) FROM orders) // 32 * 32, 2048)
        AND (o.t // 32) >= 4 AND (o.t // 32) < 20
        AND (o.t % 32) >= 8 AND (o.t % 32) < 24
    )
    """,
)
def segy01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y ingest end to end (round-8): a rev1 fixture file (EBCDIC-free
    ASCII text header, big-endian binary header, IBM hexadecimal-float
    samples — integers < 2^24 so IBM encoding is EXACT) is built from the
    orders keys, ingested by sources/segy.ingest_to_store onto the
    PostStack3D (inline, crossline, sample) cube — the reference's
    flagship real-data path (regression_tests/
    multidimio_compatibility_test.py:45-110, HeaderField customization +
    segy_to_mdio) — then a chunk-pruned isel box over the cube aggregates
    against the orders oracle. The distributed scan partitions the trace
    index space (one contiguous read per task, zero shuffle); the store
    write is the standard chunk-keyed shuffle."""
    _, path = _ensure_segy_fixture(spark, sf_dir)
    ds = MdioDataset.open(path)
    return (
        ds.isel(inline=(4, 20), crossline=(8, 24))
        .to_df(spark, "amplitude", value_col="v")
        .agg(
            F.count("v").cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("sum_v"),
            F.min("v").cast("long").alias("min_v"),
            F.max("v").cast("long").alias("max_v"),
        )
    )


@declared(
    "segy02_header_qc",
    oracle="""
    SELECT CAST(10 + o.t // 32 AS BIGINT) AS inline,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(5 + o.t % 32) AS BIGINT) AS min_xl,
           CAST(MAX(5 + o.t % 32) AS BIGINT) AS max_xl,
           CAST(SUM((o.o_orderkey % 65536) * 16) AS BIGINT) AS sum_s0
    FROM (SELECT o_orderkey,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS t
          FROM orders) o
    WHERE o.t < LEAST((SELECT COUNT(*) FROM orders) // 32 * 32, 2048)
    GROUP BY 1
    ORDER BY inline
    """,
)
def segy02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y header QC straight off the FILE (no store in between): the
    distributed trace scan (sources/segy.scan_traces — trace-index
    partitions, one contiguous read per task, vectorized big-endian
    header parsing) exposes trace headers + samples as a DataFrame, and a
    per-inline acquisition-QC rollup (trace count, crossline extent,
    first-sample checksum) aggregates against the orders oracle. This is
    the pre-ingest survey sanity pass a real SEG-Y pipeline runs before
    committing to a grid — the reference has no file-level relational
    surface at all (its regression flow shells straight into ingest)."""
    from mdio_cpp_spark.sources.segy import HeaderField, scan_traces

    sgy, _ = _ensure_segy_fixture(spark, sf_dir)
    tr = scan_traces(
        spark, sgy,
        header_fields=[HeaderField("inline", 189),
                       HeaderField("crossline", 193)],
    )
    return (
        tr.select("inline", "crossline",
                  F.element_at("samples", 1).alias("s0"))
        .groupBy("inline")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("crossline").cast("long").alias("min_xl"),
            F.max("crossline").cast("long").alias("max_xl"),
            F.sum("s0").cast("long").alias("sum_s0"),
        )
        .orderBy("inline")
    )


@declared(
    "segy03_export_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM (
      SELECT ((o.o_orderkey % 65536) * 16 + s.s) AS v
      FROM (SELECT o_orderkey,
                   ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS t
            FROM orders) o
      CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),
                         (8),(9),(10),(11),(12),(13),(14),(15)) AS s(s)
      WHERE o.t < LEAST((SELECT COUNT(*) FROM orders) // 32 * 32, 2048)
    )
    """,
)
def segy03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y EXPORT closes the loop (round-8): the ingested cube store is
    exported back to a rev1 file (sources/segy.export_segy — IBM float
    re-encode, one contiguous positioned write per first-dim slab,
    coordinate headers restored from the stored <dim>_coord arrays), and
    the EXPORTED FILE is re-scanned by the trace reader and aggregated
    against the same orders oracle — store → SEG-Y → scan must preserve
    every sample bit-exactly (IBM-exact integer fixture). The reference
    has no export path at all; legacy-tool handoff is a one-way door
    there."""
    from mdio_cpp_spark.sources.segy import export_segy, scan_traces

    _, cube = _ensure_segy_fixture(spark, sf_dir)
    base = ensure_stores(spark, sf_dir)
    out = os.path.join(base, "fixture_export.sgy")
    marker = os.path.join(base, ".built_segy_export_v2")
    if not os.path.exists(marker):
        export_segy(spark, cube, "amplitude", out, fmt=1)
        with open(marker, "w") as f:
            f.write("1")
    tr = scan_traces(spark, out)
    return (
        tr.select(F.explode("samples").alias("v"))
        .agg(
            F.count("v").cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("sum_v"),
            F.min("v").cast("long").alias("min_v"),
            F.max("v").cast("long").alias("max_v"),
        )
    )


@declared(
    "segy04_dsv2_sql",
    oracle="""
    SELECT CAST(10 + o.t // 32 AS BIGINT) AS inline,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM((o.o_orderkey % 65536) * 16 + 15) AS BIGINT) AS sum_last
    FROM (SELECT o_orderkey,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS t
          FROM orders) o
    WHERE o.t < LEAST((SELECT COUNT(*) FROM orders) // 32 * 32, 2048)
    GROUP BY 1
    ORDER BY inline
    """,
)
def segy04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y as a first-class Spark SQL source: ``spark.read.
    format("segy")`` (the DSv2 Python data source, sources/segy.py
    SegyDataSource — trace-range partitions, one contiguous read per
    task) registers as a temp view and plain SQL aggregates the trace
    headers + last sample per inline against the orders oracle. The same
    source tails a GROWING file via readStream (offset = trace count;
    exactly-once pinned in tests/test_segy.py)."""
    from mdio_cpp_spark.sources.segy import register_segy

    sgy, _ = _ensure_segy_fixture(spark, sf_dir)
    register_segy(spark)
    (
        spark.read.format("segy").option("path", sgy)
        .option("header_fields", "inline:189").load()
        .createOrReplaceTempView("segy_traces")
    )
    return spark.sql("""
        SELECT inline, COUNT(*) AS cnt,
               CAST(SUM(element_at(samples, 16)) AS BIGINT) AS sum_last
        FROM segy_traces GROUP BY inline ORDER BY inline
    """)


@declared(
    "segy05_coord_scalar",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM((100.0 * (2000 + o.t % 32) + 25) / 100), 2) AS sum_x,
           ROUND(SUM((100.0 * (7000 + o.t // 32) + 75) / 100), 2) AS sum_y,
           ROUND(MIN((100.0 * (2000 + o.t % 32) + 25) / 100), 2) AS min_x,
           ROUND(MAX((100.0 * (7000 + o.t // 32) + 75) / 100), 2) AS max_y
    FROM (SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS t
          FROM orders) o
    WHERE o.t < LEAST((SELECT COUNT(*) FROM orders) // 32 * 32, 2048)
    """,
)
def segy05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y coordinate-scalar semantics (rev1 trace-header bytes 71-72 —
    positive multiplies, NEGATIVE divides, the wart every real SEG-Y
    consumer must honor): the fixture stores source x/y in hundredths
    with scalar -100, the scan extracts coordinates + scalar as columns,
    and apply_coord_scalar (pure codegen column arithmetic, no UDF)
    recovers the survey coordinates — aggregated against the oracle's
    replication of the same CASE rule."""
    from mdio_cpp_spark.sources.segy import (HeaderField,
                                             apply_coord_scalar, scan_traces)

    sgy, _ = _ensure_segy_fixture(spark, sf_dir)
    tr = scan_traces(
        spark, sgy, with_samples=False,
        header_fields=[HeaderField("sx", 73), HeaderField("sy", 77),
                       HeaderField("scalar", 71, "int16")],
    )
    sx = apply_coord_scalar(F.col("sx"), F.col("scalar"))
    sy = apply_coord_scalar(F.col("sy"), F.col("scalar"))
    return tr.agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.round(F.sum(sx), 2).alias("sum_x"),
        F.round(F.sum(sy), 2).alias("sum_y"),
        F.round(F.min(sx), 2).alias("min_x"),
        F.round(F.max(sy), 2).alias("max_y"),
    )


def _ensure_segy_le_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf) a SEG-Y REV2 little-endian float64 fixture —
    the byte-order mark (bytes 3297-3300) carries 0x01020304 in LE order,
    every binary value (file header, trace headers, samples) is
    little-endian, data format 6 (IEEE float64, a rev2 addition). Trace t
    carries inline 10 + t//32 and 16 samples (okey%65536)*16 + s —
    integers, so float64 holds them exactly and the gate hashes exactly."""
    import struct as _st

    base = ensure_stores(spark, sf_dir)
    sgy = os.path.join(base, "fixture_rev2le.sgy")
    marker = os.path.join(base, ".built_segy_le_v1")
    W, CAP, NS = 32, 2048, 16
    if not os.path.exists(marker):
        okeys = [int(r[0]) for r in _orders_indexed(spark, sf_dir)
                 .orderBy("i").select("o_orderkey").limit(CAP).collect()]
        n_tr = (len(okeys) // W) * W
        okeys = okeys[:n_tr]
        out = bytearray()
        out += ("C 1 spark-graft segy06 rev2 little-endian fixture"
                .ljust(3200)).encode("ascii")
        bh = bytearray(400)
        _st.pack_into("<h", bh, 16, 2000)   # sample interval us
        _st.pack_into("<h", bh, 20, NS)
        _st.pack_into("<h", bh, 24, 6)      # IEEE float64 (rev2)
        _st.pack_into("<I", bh, 96, 0x01020304)  # byte-order mark, LE
        _st.pack_into("<h", bh, 300, 0x0200)  # rev2
        _st.pack_into("<h", bh, 302, 1)
        out += bh
        import numpy as _np

        for t, ok in enumerate(okeys):
            th = bytearray(240)
            _st.pack_into("<i", th, 0, t + 1)
            _st.pack_into("<h", th, 114, NS)
            _st.pack_into("<i", th, 188, 10 + t // W)  # inline
            out += th
            v0 = (ok % 65536) * 16
            out += _np.arange(v0, v0 + NS, dtype="<f8").tobytes()
        with open(sgy, "wb") as f:
            f.write(out)
        with open(marker, "w") as f:
            f.write("1")
    return sgy


@declared(
    "segy06_rev2_le",
    oracle="""
    SELECT CAST(10 + o.t // 32 AS BIGINT) AS inline,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM((o.o_orderkey % 65536) * 16 * 16 + 120) AS BIGINT) AS sum_v,
           CAST(MIN((o.o_orderkey % 65536) * 16) AS BIGINT) AS min_v,
           CAST(MAX((o.o_orderkey % 65536) * 16 + 15) AS BIGINT) AS max_v
    FROM (SELECT o_orderkey,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS t
          FROM orders) o
    WHERE o.t < LEAST((SELECT COUNT(*) FROM orders) // 32 * 32, 2048)
    GROUP BY 1
    ORDER BY inline
    """,
)
def segy06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEG-Y REV2 little-endian ingest (SEG technical standard 2017): the
    fixture carries the rev2 byte-order mark (bytes 3297-3300 hold
    0x01020304 in the file's own order) and IEEE float64 samples (data
    format 6, a rev2 addition). The ``format('segy')`` DSv2 batch source
    resolves the byte order ONCE from the mark (sources/segy.py
    read_binary_header) and every downstream decode — binary header,
    per-trace header fields, bulk sample conversion — flips accordingly;
    the scan itself is the same trace-index-partitioned single-read-per-
    task shape as the big-endian path (endianness is metadata, not a
    plan change). Per-inline rollup of trace count and exact integer
    sample stats against the orders oracle."""
    sgy = _ensure_segy_le_fixture(spark, sf_dir)
    from mdio_cpp_spark.sources.segy import register_segy

    register_segy(spark)
    tr = (
        spark.read.format("segy")
        .option("path", sgy)
        .option("header_fields", "inline:189:int32")
        .load()
    )
    per_trace = tr.select(
        "inline",
        F.aggregate(
            "samples", F.lit(0.0), lambda acc, x: acc + x
        ).alias("tsum"),
        F.array_min("samples").alias("tmin"),
        F.array_max("samples").alias("tmax"),
    )
    return (
        per_trace.groupBy("inline")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("tsum").cast("long").alias("sum_v"),
            F.min("tmin").cast("long").alias("min_v"),
            F.max("tmax").cast("long").alias("max_v"),
        )
        .orderBy("inline")
    )


@declared(
    "zarr115_resize_append",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vals,
           ROUND(SUM(price), 2) AS total,
           MIN(price) AS min_v, MAX(price) AS max_v,
           CAST(200 AS BIGINT) AS n_fill
    FROM (SELECT o_totalprice AS price, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 < 1400
    """,
)
def zarr115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIZE/APPEND: the grow direction of the reference's resize seam
    (trim.h:98-112 drives tensorstore::Resize; utils/trim.grow_dataset is
    the metadata-only grow). A 1000-cell store is grown to 1600, rows
    [1000, 1400) are appended through the ordinary chunk-aligned writer —
    the boundary chunk is read-modify-written, fresh chunks are created —
    and the grown-but-unwritten margin [1400, 1600) must read back as
    fill (NaN), never as an error or stale bytes. Scale shape: the grow
    itself is ONE metadata PUT regardless of array size (unwritten chunks
    don't exist until written — appending to a 100-TB array is free);
    the append shuffles only the appended rows, chunk-keyed; the scan-back
    is the ordinary chunk-pruned distributed read with fill synthesis for
    the virgin tail. This is the batch half of the streaming tail source's
    contract (the tail watches exactly this shape+chunk growth)."""
    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.utils.trim import grow_dataset

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "resize_append.zarr")
    marker = os.path.join(base, ".built_resize_v1")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        ords = _orders_indexed(spark, sf_dir).select(
            "i", F.col("o_totalprice").alias("v"))
        st = ZarrStore.create(path, version=2, attrs={"name": "resize_append"})
        st.create_array(
            "price", shape=(1000,), chunks=(256,), dtype="float64",
            dims=("i",), compressor={"id": "zlib", "level": 1},
        )
        st.consolidate()
        write_array(ords.filter(F.col("i") < 1000), path, "price", value_cols="v")
        grown = grow_dataset(path, i=1600)
        assert grown["price"] == 600, grown
        write_array(
            ords.filter((F.col("i") >= 1000) & (F.col("i") < 1400)),
            path, "price", value_cols="v",
        )
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    # fill cells surface as NULL through the reader (NaN fill → SQL NULL)
    return ds.isel(i=(0, 1600)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("n_vals"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.count(F.when(F.col("v").isNull(), 1)).cast("long").alias("n_fill"),
    )


@declared(
    "zarr116_multiscale",
    oracle="""
    WITH cells AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_e2
      FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      WHERE rn - 1 < 1024)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(v_e2) AS DOUBLE) / (100.0 * COUNT(*)) AS box_mean,
           CAST(2 AS BIGINT) AS level_factor
    FROM cells
    """,
)
def zarr116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISCALE ROUTER: zarr34 scans a stored mean level and zarr71
    builds one; this gate adds the two pieces a viewer/overview SERVICE
    needs on top: (1) the ``multiscales`` level-table attr (the
    OME-NGFF-style contract) that the query ROUTER consults to pick the
    cheapest level for a full-extent query, and (2) an exact integer
    block-SUM level (not stored means), so the routed answer equals the
    base-scan answer bit-for-bit — aggregation pyramids stay lossless for
    sums/means/counts where mean pyramids are approximations under
    re-aggregation. Build is one distributed pass over the stored base
    writing the 4x-smaller level; the routed overview then reads 4x fewer
    cells AND 4x fewer chunk GETs (planned-chunk ratio pinned in
    tests/test_zarr.py). At 100 TB each extra level divides overview cost
    by 4 again."""
    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "pyramid_router.zarr")
    marker = os.path.join(base, ".built_pyramid_router_v1")
    if not os.path.exists(marker):
        import shutil

        from mdio_cpp_spark.sources.writer import write_array

        shutil.rmtree(path, ignore_errors=True)
        cells = _orders_indexed(spark, sf_dir).filter(F.col("i") < 16 * 64).select(
            F.expr("i div 64").alias("row"),
            (F.col("i") % 64).alias("col"),
            F.col("o_totalprice").alias("v"),
        )
        st = ZarrStore.create(
            path, version=2,
            attrs={"multiscales": [
                {"path": "img", "factor": 1},
                {"path": "img_l1_sum", "factor": 2, "stat": "sum_e2"},
            ]},
        )
        st.create_array("img", shape=(16, 64), chunks=(8, 16), dtype="float64",
                        dims=("row", "col"))
        st.create_array("img_l1_sum", shape=(8, 32), chunks=(8, 16), dtype="int64",
                        dims=("prow", "pcol"))
        st.consolidate()
        write_array(cells, path, "img", value_cols="v")
        # pyramid build: one distributed pass over the stored base
        l1 = (
            MdioDataset.open(path).var("img").to_df(spark, value_col="v")
            .select(
                F.expr("row div 2").alias("prow"),
                F.expr("col div 2").alias("pcol"),
                F.round(F.col("v") * 100).cast("long").alias("e2"),
            )
            .groupBy("prow", "pcol")
            .agg(F.sum("e2").alias("s"))
        )
        write_array(l1, path, "img_l1_sum", value_cols="s")
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    levels = ds.store.attrs["multiscales"]
    coarse = levels[-1]  # router: full-extent overview → coarsest level
    factor = int(coarse["factor"])
    return (
        ds.var(coarse["path"]).to_df(spark, value_col="s")
        .agg(
            (F.count(F.lit(1)) * factor * factor).cast("long").alias("n_cells"),
            (F.sum("s").cast("double")
             / (F.lit(100.0) * F.count(F.lit(1)) * factor * factor)).alias("box_mean"),
            F.lit(factor).cast("long").alias("level_factor"),
        )
    )


def _handcraft_v2_store(path: str, zarray: dict, zattrs: dict,
                        chunks: dict[str, bytes]) -> None:
    """Write a v2 store BY HAND — json + raw chunk objects, zero engine
    encode-path involvement — so the reading gate is a true external-store
    differential (the store stands in for one written by numcodecs/
    zarr-python, which the reference reads via TensorStore passthrough,
    zarr_v2.h:78)."""
    import json
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "v"), exist_ok=True)
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    with open(os.path.join(path, ".zattrs"), "w") as f:
        json.dump({"name": "external_v2"}, f)
    with open(os.path.join(path, "v", ".zarray"), "w") as f:
        json.dump(zarray, f)
    with open(os.path.join(path, "v", ".zattrs"), "w") as f:
        json.dump(zattrs, f)
    for key, raw in chunks.items():
        with open(os.path.join(path, "v", key), "wb") as f:
            f.write(raw)


@declared(
    "zarr117_delta_filter_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(o_custkey) AS BIGINT) AS total,
           CAST(MIN(o_custkey) AS BIGINT) AS min_v,
           CAST(MAX(o_custkey) AS BIGINT) AS max_v
    FROM (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 300 AND rn - 1 < 7000
    """,
)
def zarr117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ an externally-written v2 store whose chunks pass through a
    numcodecs DELTA filter chain (filters: [{"id": "delta", "dtype":
    "<i4"}] + zlib) — the filter passthrough the reference inherits from
    TensorStore (zarr_v2.h:78) and this engine decodes natively
    (codecs.decode_v2_filters). The fixture chunks are assembled BY HAND
    from the numcodecs spec in this builder (np.diff per full chunk, then
    zlib), so engine encode code never touches the bytes under test; the
    chunk-pruned isel scan must then hash-match SQL over the original
    parquet. Builder is driver-side by design (it fakes an external
    writer; bytes are 4·|orders| ≈ 6 MB even at sf1) — the READ under
    test is the usual distributed chunk-pruned scan."""
    import zlib

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "delta_filtered.zarr")
    marker = os.path.join(base, ".built_delta_v1")
    if not os.path.exists(marker):
        vals = np.array(
            [r["o_custkey"] for r in _orders_indexed(spark, sf_dir)
             .select("o_custkey").orderBy("i").collect()],
            dtype="<i4",
        )
        n = len(vals)
        n_chunks = (n + CHUNK - 1) // CHUNK
        chunk_objs: dict[str, bytes] = {}
        for k in range(n_chunks):
            # v2 edge chunks are stored FULL SIZE: pad with the fill value
            block = np.zeros(CHUNK, dtype="<i4")
            part = vals[k * CHUNK:(k + 1) * CHUNK]
            block[: len(part)] = part
            enc = np.empty(CHUNK, dtype="<i4")
            enc[0] = block[0]
            enc[1:] = np.diff(block)
            chunk_objs[str(k)] = zlib.compress(enc.tobytes(), 1)
        _handcraft_v2_store(
            path,
            {"zarr_format": 2, "shape": [n], "chunks": [CHUNK],
             "dtype": "<i4", "compressor": {"id": "zlib", "level": 1},
             "fill_value": 0, "order": "C",
             "filters": [{"id": "delta", "dtype": "<i4"}],
             "dimension_separator": "."},
            {"_ARRAY_DIMENSIONS": ["i"]},
            chunk_objs,
        )
        with open(marker, "w") as f:
            f.write("1")
    ds = MdioDataset.open(path)
    return ds.isel(i=(300, 7000)).to_df(spark, "v", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.sum("v").cast("long").alias("total"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"),
    )


@declared(
    "zarr118_be_struct_store",
    oracle="""
    SELECT CAST(rn - 1 AS BIGINT) AS i,
           CAST(o_custkey AS BIGINT) AS ck,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM (SELECT o_custkey, o_totalprice,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 100 AND rn - 1 < 3000
    ORDER BY i
    """,
)
def zarr118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ an externally-written v2 store with BIG-ENDIAN STRUCT FIELDS
    (dtype [["ok", ">i8"], ["ck", ">i4"], ["cents", ">i8"]]) — the
    seismic-land trace-header layout (SEG-Y headers are BE; a v2 export
    keeps them so), matching the reference's v2 dtype matrix
    (zarr_v2.h:579-595). The decoder keeps the mixed-order on-disk dtype
    as stored_dtype and astypes to the all-native twin — a per-field
    byteswap, same path plain BE scalars use — then SelectField pruning
    ships only the two requested fields across the Arrow boundary.
    Fixture bytes handcrafted (numpy BE struct + zlib, no engine encode
    path); the scan must hash-match SQL over the original parquet."""
    import zlib

    base = ensure_stores(spark, sf_dir)
    path = os.path.join(base, "be_struct.zarr")
    marker = os.path.join(base, ".built_bestruct_v1")
    if not os.path.exists(marker):
        rows = (
            _orders_indexed(spark, sf_dir)
            .select("o_orderkey", "o_custkey",
                    F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
            .orderBy("i")
            .collect()
        )
        be = np.dtype([("ok", ">i8"), ("ck", ">i4"), ("cents", ">i8")])
        vals = np.array(
            [(r["o_orderkey"], r["o_custkey"], r["cents"]) for r in rows],
            dtype=be,
        )
        n = len(vals)
        n_chunks = (n + CHUNK - 1) // CHUNK
        chunk_objs: dict[str, bytes] = {}
        for k in range(n_chunks):
            block = np.zeros(CHUNK, dtype=be)
            part = vals[k * CHUNK:(k + 1) * CHUNK]
            block[: len(part)] = part
            chunk_objs[str(k)] = zlib.compress(block.tobytes(), 1)
        _handcraft_v2_store(
            path,
            {"zarr_format": 2, "shape": [n], "chunks": [CHUNK],
             "dtype": [["ok", ">i8"], ["ck", ">i4"], ["cents", ">i8"]],
             "compressor": {"id": "zlib", "level": 1},
             "fill_value": None, "order": "C", "dimension_separator": "."},
            {"_ARRAY_DIMENSIONS": ["i"]},
            chunk_objs,
        )
        with open(marker, "w") as f:
            f.write("1")
    from mdio_cpp_spark.sources.reader import scan_array

    return (
        scan_array(spark, path, "v", ranges={"i": (100, 3000)},
                   fields=["ck", "cents"])
        .select("i", F.col("ck").cast("long").alias("ck"), "cents")
        .orderBy("i")
    )


# One loopback server per served directory, living for the Spark session —
# the returned DataFrame is LAZY, so the server must outlive this call (the
# driver/bench collect later). Daemon threads; the interpreter exit reaps
# them. This mirrors how the reference tests cloud IO: gcs_test.cc/s3_test.cc
# run against a server endpoint, not the SDK mocked out.
_HTTP_SERVERS: dict = {}


def _http_base_url(base: str) -> str:
    srv = _HTTP_SERVERS.get(base)
    if srv is None:
        from mdio_cpp_spark.sources.http_loopback import LoopbackHttpServer

        srv = LoopbackHttpServer(base).start()
        _HTTP_SERVERS[base] = srv
    return srv.url


@declared(
    "zarr119_http_store",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn - 1 >= 1500 AND rn - 1 < 5200
    """,
)
def zarr119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded v3 store read over REAL HTTP — genuine network ranged
    GETs with zero wheels (IO10's live-cloud analog; the reference's
    gcs_test.cc/s3_test.cc run the same shape against a server endpoint).
    A stdlib loopback server (sources/http_loopback.py) serves the sf
    cache dir on 127.0.0.1; the engine opens
    ``http://127.0.0.1:<port>/sharded.zarr`` through the scheme-routed
    HttpKVStore (RFC 9110 Range reads, retry-on-5xx wrapping) and runs the
    ordinary chunk-pruned isel scan: O(1) metadata GETs via v3
    consolidated metadata (no LIST — plain HTTP has none), then each
    executor's Python worker fetches ONLY its pruned shards' windows over
    its own socket. Every byte of this query's store I/O crosses the
    network stack; at 100 TB the same plan runs against any HTTP-fronted
    object store with per-shard ranged reads. Fetch shapes and retry
    behavior are pinned by tests/test_http_kvstore.py."""
    path = _ensure_sharded_store(spark, sf_dir)
    st = ZarrStore.open(path)
    if st._consolidated_v3() is None:
        st.consolidate()  # pre-r10 cached fixture: publish once, locally
    base = os.path.dirname(path)
    url = f"{_http_base_url(base)}/{os.path.basename(path)}"
    ds = MdioDataset.open(url)
    return ds.isel(i=(1500, 5200)).to_df(spark, "price", value_col="v").agg(
        F.count("v").cast("long").alias("cnt"),
        F.round(F.sum("v"), 2).alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
