"""Survey geolocation queries — the reference's ``seismic_reader`` example
end-to-end (``examples/seismic_reader/main.cc:31-127``): read the UTM
coordinate grids stored beside the cube, compute the survey footprint,
convert to latitude/longitude (``utm.hh:82-148``), and geolocate the
peak/trough amplitudes.

The conversion formula lives ONCE in ``functions/geo.py`` as shared SQL text:
the Spark plans fold it via ``selectExpr`` (pure built-in column math —
codegen'd, map-side, no UDF) and the DuckDB oracles nest the identical text.
The oracles re-derive the coordinate grid from its generating formula, so
each query is a genuine store round-trip: Spark must read back exactly the
grid the distributed writer laid down chunk-aligned.

100-TB shape: coordinate grids are (inline × crossline) — for a real survey
~1e8 cells, dwarfed by the amplitude volume. geo03 converts the WHOLE grid
as map-side math on the chunk-pruned scan and reduces with a partial-agg
min/max: no shuffle wider than the 1-row aggregate. geo02's pick frame is
two rows, broadcast into the grid scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_cpp_spark.functions.geo import apply_utm_stages, haversine_sql, oracle_utm_sql
from mdio_cpp_spark.model import MdioDataset
from mdio_cpp_spark.plans.base import declared
from mdio_cpp_spark.plans.zarr_queries import (
    _CUBE_SQL,
    CUBE_IL,
    CUBE_XL,
    ensure_stores,
)
from mdio_cpp_spark.session import local_frame

# The grid's generating formula (see the cube-store build in
# zarr_queries.ensure_stores): exact-integer doubles, re-derivable in SQL.
_GRID_SQL = f"""
    SELECT CAST(i.range AS BIGINT) AS il, CAST(x.range AS BIGINT) AS xl,
           447000.0 + i.range * 250.0 + x.range * 25.0 AS easting,
           7656000.0 + x.range * 250.0 - i.range * 25.0 AS northing
    FROM range({CUBE_IL}) i, range({CUBE_XL}) x
"""

_GEO_COLS = "ROUND(lat, 6) AS lat, ROUND(lon, 6) AS lon"

# extents → the four bounding-box corners (shared by geo01 and geo04)
_CORNERS_SQL = f"""
    WITH grid AS ({_GRID_SQL}),
    ext AS (SELECT MIN(easting) AS x_min, MAX(easting) AS x_max,
                   MIN(northing) AS y_min, MAX(northing) AS y_max FROM grid)
    SELECT c.corner,
           CASE WHEN c.mx = 1 THEN ext.x_max ELSE ext.x_min END AS easting,
           CASE WHEN c.my = 1 THEN ext.y_max ELSE ext.y_min END AS northing
    FROM ext, (VALUES ('nw', 0, 1), ('ne', 1, 1), ('sw', 0, 0), ('se', 1, 0))
              AS c(corner, mx, my)
"""


def _cube(spark: SparkSession, sf_dir: str) -> MdioDataset:
    return MdioDataset.open(os.path.join(ensure_stores(spark, sf_dir), "cube_v2.zarr"))


def _extent_corners(spark: SparkSession, ds: MdioDataset) -> DataFrame:
    """The 4-row (corner, easting, northing) bounding-box frame.

    cdp_x and cdp_y share the (il, xl) chunk grid, so the fused aligned
    scan decodes BOTH variables' chunks in one pass and all four extents
    come from a single partial aggregate — previously each variable was
    scanned separately for its own 1-row agg and the two frames
    cross-joined (two store scans per consumer; geo01/geo04/geo05 all
    paid it). Min/max are unchanged by the fusion, so results are
    bit-identical."""
    both = ds.to_df_aligned(spark, {"cdp_x": "easting", "cdp_y": "northing"})
    exy = both.agg(
        F.min("easting").alias("x_min"), F.max("easting").alias("x_max"),
        F.min("northing").alias("y_min"), F.max("northing").alias("y_max"))
    corners = local_frame(
        spark, [("nw", 0, 1), ("ne", 1, 1), ("sw", 0, 0), ("se", 1, 0)],
        "corner string, mx int, my int")
    return exy.crossJoin(corners).selectExpr(
        "corner",
        "CASE WHEN mx = 1 THEN x_max ELSE x_min END AS easting",
        "CASE WHEN my = 1 THEN y_max ELSE y_min END AS northing")


def _grid(spark: SparkSession, ds: MdioDataset) -> DataFrame:
    """The (il, xl, easting, northing) grid read back from the store; the
    join is chunk-aligned (both variables share the [4, 4] chunk grid)."""
    gx = ds.var("cdp_x").to_df(spark, value_col="easting")
    gy = ds.var("cdp_y").to_df(spark, value_col="northing")
    return gx.join(gy, ["il", "xl"])


@declared(
    "geo01_survey_footprint",
    oracle=oracle_utm_sql(
        _CORNERS_SQL,
        f"corner, easting, northing, {_GEO_COLS}",
    ) + " ORDER BY corner",
)
def geo01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey footprint (main.cc:41-53 ``GetExtents`` + ``print_corners`` /
    ``web_display``): min/max extents of the stored UTM coordinate grids,
    the four bounding-box corners, each converted to lat/lon. The extents
    are partial-agg min/max over the coordinate scans (exact: the grid is
    integer-valued doubles); the corner table is a 4-row literal crossed
    against the 1-row extent frame — nothing data-sized moves."""
    pts = _extent_corners(spark, _cube(spark, sf_dir))
    return apply_utm_stages(pts).selectExpr(
        "corner", "easting", "northing", "ROUND(lat, 6) AS lat",
        "ROUND(lon, 6) AS lon").orderBy("corner")


@declared(
    "geo02_peak_location",
    oracle=oracle_utm_sql(
        _CUBE_SQL + f""",
        grid AS ({_GRID_SQL}),
        picks AS (
          SELECT * FROM (SELECT 'peak' AS kind, il, xl, t, v FROM cube
                         ORDER BY v DESC, il, xl, t LIMIT 1)
          UNION ALL
          SELECT * FROM (SELECT 'trough' AS kind, il, xl, t, v FROM cube
                         ORDER BY v ASC, il, xl, t LIMIT 1)
        )
        SELECT p.kind, p.il, p.xl, p.t,
               CAST(ROUND(p.v * 100) AS BIGINT) AS v_cents,
               g.easting, g.northing
        FROM picks p JOIN grid g ON p.il = g.il AND p.xl = g.xl
        """,
        f"kind, il, xl, t, v_cents, easting, northing, {_GEO_COLS}",
    ) + " ORDER BY kind",
)
def geo02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geolocate the volume's peak and trough amplitudes (main.cc:84-127:
    ``CalculateVolumeStatistics`` positions → ``ds.sel`` on the coordinate
    grids → ``utm_to_geo``). ONE pass over the amplitude volume computes
    both picks as lexicographic struct min/max (exact compare, smallest
    (il, xl, t) tie-break — the distributed form of the example's driver
    walk, same shape as zarr43); the 2-row pick frame is then broadcast
    into the chunk-aligned coordinate-grid join and converted map-side."""
    ds = _cube(spark, sf_dir)
    amp = ds.var("amp").to_df(spark, value_col="v")
    agg = amp.agg(
        F.max(F.struct(
            F.col("v"), (-F.col("il")).alias("nil"),
            (-F.col("xl")).alias("nxl"), (-F.col("t")).alias("nt"))).alias("pk"),
        F.min(F.struct("v", "il", "xl", "t")).alias("tr"))
    lazy_picks = agg.selectExpr(
        "inline(array("
        "named_struct('kind', 'peak', 'il', -pk.nil, 'xl', -pk.nxl,"
        "             't', -pk.nt, 'v', pk.v),"
        "named_struct('kind', 'trough', 'il', tr.il, 'xl', tr.xl,"
        "             't', tr.t, 'v', tr.v)))")
    # persist the 2-row pick frame: the two broadcasts below each embed
    # the whole amplitude-volume aggregate as their build plan, so without
    # a shared materialization the full amp scan executes TWICE (round-11
    # plan showed no ReusedExchange across the two broadcast builds). The
    # persist keeps the plan lazy — the first broadcast build materializes
    # the 2-row cache, the second reads it — one volume scan total. (An
    # eager collect+re-literalize was A/B-tested and measured 1.9x slower
    # at sf0.1: it serializes the volume aggregate ahead of the query
    # where the 32-core box ran the duplicate scans concurrently.)
    picks = lazy_picks.persist()
    # attach the 2-row pick frame to EACH coordinate scan via broadcast
    # BEFORE pairing easting with northing: the full-grid (il, xl)
    # self-join of _grid would shuffle both coordinate grids to pair
    # cells the picks then discard; this way each grid scan reduces to
    # ≤2 rows map-side and the pairing join is 2×2 (measured one fewer
    # exchange pair at sf0.1; at survey scale it removes the only
    # grid-sized shuffle in the query).
    gx = ds.var("cdp_x").to_df(spark, value_col="easting")
    gy = ds.var("cdp_y").to_df(spark, value_col="northing")
    px = gx.join(F.broadcast(picks), ["il", "xl"])
    pts = (
        px.join(
            # distinct: peak and trough may share a cell — gy must stay
            # unique per (il, xl) or the pairing join would duplicate rows
            F.broadcast(
                gy.join(F.broadcast(picks.select("il", "xl").distinct()), ["il", "xl"])
            ),
            ["il", "xl"],
        )
        .withColumn("v_cents", F.round(F.col("v") * 100).cast("long"))
        .drop("v")
    )
    return apply_utm_stages(pts).selectExpr(
        "kind", "il", "xl", "t", "v_cents", "easting", "northing",
        "ROUND(lat, 6) AS lat", "ROUND(lon, 6) AS lon").orderBy("kind")


@declared(
    "geo03_latlon_bbox",
    oracle=oracle_utm_sql(
        f"SELECT easting, northing FROM ({_GRID_SQL})",
        "CAST(COUNT(*) AS BIGINT) AS n_points,"
        " ROUND(MIN(lat), 6) AS lat_min, ROUND(MAX(lat), 6) AS lat_max,"
        " ROUND(MIN(lon), 6) AS lon_min, ROUND(MAX(lon), 6) AS lon_max",
    ),
)
def geo03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geographic bounding box of the FULL coordinate grid: convert every
    (easting, northing) cell map-side and reduce to min/max lat/lon — the
    exact footprint (the corner approximation geo01 mirrors from the example
    is only exact for an axis-aligned grid; this grid is rotated, so the
    true lat extremes land mid-edge). The scale shape: per-cell conversion
    is codegen'd column math on the scan, the reduce is a partial-agg to one
    row — no shuffle, no UDF, prunes with the chunk grid."""
    ds = _cube(spark, sf_dir)
    conv = apply_utm_stages(_grid(spark, ds).select("easting", "northing"))
    return conv.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.min("lat"), 6).alias("lat_min"),
        F.round(F.max("lat"), 6).alias("lat_max"),
        F.round(F.min("lon"), 6).alias("lon_min"),
        F.round(F.max("lon"), 6).alias("lon_max"))


# ---- geo04: the example's GeoJSON polygon + web-map URL --------------------

# urlEncode (utm.hh:158-174) keeps [A-Za-z0-9-_.~] and percent-encodes the
# rest; these are the only non-kept characters the polygon string contains
_URL_ENC = [("{", "%7B"), ("}", "%7D"), ('"', "%22"), (":", "%3A"),
            ("[", "%5B"), ("]", "%5D"), (",", "%2C")]

_GEOJSON_PREFIX = "http://geojson.io/#data=data:application/json,"


def _poly_sql(fmtfn: str) -> str:
    """The polygon-string aggregate over the 4-row (corner, lat, lon) frame,
    ring order nw→ne→se→sw→nw (encodeGeoJSONBoundingBoxURL, utm.hh:196-213).
    ``fmtfn`` is the engine's printf-style formatter (Spark `format_string`,
    DuckDB `printf`) — fixed 6-dp display (≈0.1 m; the example prints ostream
    6-significant-digit defaults, a lossier contract we tighten)."""
    def pick(c: str, col: str) -> str:
        return f"MAX(CASE WHEN corner = '{c}' THEN {fmtfn}('%.6f', ROUND({col}, 6)) END)"

    def pt(c: str) -> str:
        return f"'[' || {pick(c, 'lon')} || ',' || {pick(c, 'lat')} || ']'"

    ring = " || ',' || ".join([pt("nw"), pt("ne"), pt("se"), pt("sw"), pt("nw")])
    return '\'{"type":"Polygon","coordinates":[[\' || ' + ring + " || ']]}'"


def _urlencode_sql(col: str) -> str:
    out = col
    for raw, enc in _URL_ENC:
        out = f"replace({out}, '{raw}', '{enc}')"
    return out


@declared(
    "geo04_geojson_url",
    oracle=(
        f"SELECT geojson, '{_GEOJSON_PREFIX}' || {_urlencode_sql('geojson')} AS url "
        f"FROM (SELECT ({_poly_sql('printf')}) AS geojson "
        f"FROM ({oracle_utm_sql(_CORNERS_SQL, 'corner, lat, lon')}))"
    ),
)
def geo04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The example's shareable map link (``utm.hh:180-218``
    ``encodeGeoJSONBoundingBoxURL`` + ``urlEncode``): the survey bounding
    box as a closed GeoJSON Polygon ring (nw→ne→se→sw→nw) and its
    percent-encoded geojson.io URL. String assembly is deterministic in
    both engines: corners are pinned by geo01's hash gate, formatting is an
    explicit ``%.6f`` contract (no locale/ostream defaults), and the encode
    is a fixed replace chain over the characters the string can contain.
    Everything past the 4-row corner frame is constant-size work."""
    pts = _extent_corners(spark, _cube(spark, sf_dir))
    one = apply_utm_stages(pts).selectExpr(
        f"({_poly_sql('format_string')}) AS geojson")
    return one.selectExpr(
        "geojson",
        f"'{_GEOJSON_PREFIX}' || {_urlencode_sql('geojson')} AS url")


# ---- geo05: survey perimeter via great-circle segment lengths --------------

_RING_VALUES = ("(VALUES ('nw-ne', 'nw', 'ne'), ('ne-se', 'ne', 'se'), "
                "('se-sw', 'se', 'sw'), ('sw-nw', 'sw', 'nw')) AS s(seg, ca, cb)")

_HAV = haversine_sql("lat1", "lon1", "lat2", "lon2")


@declared(
    "geo05_survey_perimeter",
    oracle=f"""
    WITH c AS ({oracle_utm_sql(_CORNERS_SQL,
                               "corner, ROUND(lat, 6) AS lat, ROUND(lon, 6) AS lon")}),
    p AS (
      SELECT s.seg, a.lat AS lat1, a.lon AS lon1, b.lat AS lat2, b.lon AS lon2
      FROM {_RING_VALUES}
      JOIN c a ON a.corner = s.ca
      JOIN c b ON b.corner = s.cb)
    SELECT seg, ROUND({_HAV}, 2) AS dist_m FROM p
    UNION ALL
    SELECT 'total', ROUND(SUM(ROUND({_HAV}, 2)), 2) FROM p
    ORDER BY seg
    """,
)
def geo05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey perimeter: the four bounding-box corners (geo01's frame) walk
    the ring nw→ne→se→sw→nw and each leg gets its great-circle length from
    the SHARED haversine text (functions/geo.haversine_sql — one formula
    string, both engines), plus a total row. Inputs are the 6-dp-rounded
    lat/lon, so both engines feed identical doubles into the identical
    formula; segment lengths round to cm before the 4-term total. Work
    past the coordinate-extent scan is a 4-row broadcast self-join —
    constant-size at any survey scale."""
    pts = _extent_corners(spark, _cube(spark, sf_dir))
    c = apply_utm_stages(pts).selectExpr(
        "corner", "ROUND(lat, 6) AS lat", "ROUND(lon, 6) AS lon")
    ring = local_frame(
        spark,
        [("nw-ne", "nw", "ne"), ("ne-se", "ne", "se"),
         ("se-sw", "se", "sw"), ("sw-nw", "sw", "nw")],
        "seg string, ca string, cb string")
    a = c.selectExpr("corner AS ca", "lat AS lat1", "lon AS lon1")
    b = c.selectExpr("corner AS cb", "lat AS lat2", "lon AS lon2")
    p = ring.join(F.broadcast(a), "ca").join(F.broadcast(b), "cb")
    # the 4-row segment frame feeds BOTH the per-segment output and the
    # total row; persist it so the two coordinate-extent store scans run
    # once, not per consumer (A/B-measured 1.9 → 1.4 s steady-state at
    # sf0.1 — the saving is the two repeated zarr scans; round-11
    # optimization). The total is the sum of the ALREADY-ROUNDED segment
    # lengths (the oracle's SUM(ROUND(hav, 2))), so deriving it from the
    # persisted segs is exact — identical hashes verified at all 3 SFs.
    segs = p.selectExpr("seg", f"ROUND({_HAV}, 2) AS dist_m").persist()
    total = segs.agg(
        F.lit("total").alias("seg"), F.round(F.sum("dist_m"), 2).alias("dist_m"))
    return segs.unionAll(total).orderBy("seg")


# ---- geo06: nearest-CDP lookup via lat/lon cell bucketing -------------------

_G6_CELL = 0.005  # degrees ≈ 550 m ≫ the 250 m grid pitch → 3×3 probe is exact
_G6_QUERIES = [("q1", -21.1950, 122.4950), ("q2", -21.1850, 122.5050),
               ("q3", -21.1900, 122.4920)]
_G6_HAV = haversine_sql("qlat", "qlon", "lat", "lon")


@declared(
    "geo06_nearest_cdp",
    oracle=f"""
    WITH c AS ({oracle_utm_sql(_GRID_SQL,
                               "il, xl, ROUND(lat, 6) AS lat, ROUND(lon, 6) AS lon")}),
    q(qid, qlat, qlon) AS (VALUES {", ".join(f"('{q}', {la}, {lo})" for q, la, lo in _G6_QUERIES)}),
    d AS (
      SELECT q.qid, c.il, c.xl, c.lat, c.lon,
             ROUND({_G6_HAV}, 3) AS d3, {_G6_HAV} AS dm
      FROM q CROSS JOIN c)
    SELECT qid, il, xl, lat, lon, ROUND(dm, 2) AS dist_m
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d3, il, xl) AS rn
          FROM d)
    WHERE rn = 1 ORDER BY qid
    """,
)
def geo06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-CDP lookup: geolocate field positions onto the stored survey
    grid — the reverse of geo02 (grid→map; this is map→grid). The Spark
    side is the SCALE path: grid points bucket into 0.005° lat/lon cells
    map-side, each query probes only its 3×3 cell neighborhood (an equi-
    join, v03's IVF shape on geographic cells), and the winner is an exact
    lexicographic struct-min on (mm-rounded distance, il, xl). The probe is
    EXACT by construction — the cell edge (~550 m) exceeds any point's
    distance to its nearest grid neighbor (≤~177 m inside the hull), so
    the true nearest is always in the probed cells; the oracle brute-forces
    all pairs to prove it. Distances come from the shared haversine text
    over 6-dp-rounded coordinates — identical doubles into an identical
    formula in both engines."""
    ds = _cube(spark, sf_dir)
    g = apply_utm_stages(_grid(spark, ds)).selectExpr(
        "il", "xl", "ROUND(lat, 6) AS lat", "ROUND(lon, 6) AS lon"
    ).withColumn("cla", F.floor(F.col("lat") / _G6_CELL).cast("long")) \
     .withColumn("clo", F.floor(F.col("lon") / _G6_CELL).cast("long"))
    q = local_frame(spark, _G6_QUERIES, "qid string, qlat double, qlon double")
    nb = q.select(
        "qid", "qlat", "qlon",
        (F.floor(F.col("qlat") / _G6_CELL).cast("long")).alias("qa"),
        (F.floor(F.col("qlon") / _G6_CELL).cast("long")).alias("qo"),
    ).select(
        "qid", "qlat", "qlon",
        F.explode(F.expr(
            "flatten(transform(sequence(-1, 1), da -> "
            "transform(sequence(-1, 1), do -> struct(qa + da AS cla, qo + do AS clo))))"
        )).alias("cell"),
    ).select("qid", "qlat", "qlon", "cell.cla", "cell.clo")
    cand = g.join(F.broadcast(nb), ["cla", "clo"])
    hav = F.expr(_G6_HAV)
    best = (
        cand.select(
            "qid",
            F.struct(
                F.round(hav, 3).alias("d3"), "il", "xl", "lat", "lon",
                hav.alias("dm"),
            ).alias("s"),
        )
        .groupBy("qid")
        .agg(F.min("s").alias("s"))
    )
    return best.select(
        "qid", F.col("s.il").alias("il"), F.col("s.xl").alias("xl"),
        F.col("s.lat").alias("lat"), F.col("s.lon").alias("lon"),
        F.round(F.col("s.dm"), 2).alias("dist_m"),
    ).orderBy("qid")
