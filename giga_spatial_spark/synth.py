"""Deterministic synthetic geocoding and vector layers.

The driver's test tables (/root/testdata) carry no coordinates, so every
spatial query derives lon/lat from integer key columns with *pure integer
arithmetic* — bit-identical between Spark and the DuckDB oracle:

    lon(key) = ((key * 7919)   % 36000) / 100.0 - 180.0   ∈ [-180, 179.99]
    lat(key) = ((key * 104729) % 16000) / 100.0 -  80.0   ∈ [ -80,  79.99]

Admin zones are CCW convex polygons generated from a fixed seed; convexity
makes the containment rule (all edge cross-products >= 0) expressible as
plain SQL arithmetic, so the point-in-polygon join itself is oracle-checked
cell-for-cell (SURVEY.md §5.2).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.dialect import spark_col
from .geometry import EARTH_RADIUS_M
from .session import local_df
from .sources.readers import read_parquet

LON_MULT, LON_MOD = 7919, 36000
LAT_MULT, LAT_MOD = 104729, 16000


# ------------------------------------------------------------- geocoding
def lon_sql(key: str) -> str:
    return f"((({key} * {LON_MULT}) % {LON_MOD}) / 100.0 - 180.0)"


def lat_sql(key: str) -> str:
    return f"((({key} * {LAT_MULT}) % {LAT_MOD}) / 100.0 - 80.0)"


def lon_np(key) -> np.ndarray:
    return ((np.asarray(key, dtype=np.int64) * LON_MULT) % LON_MOD) / 100.0 - 180.0


def lat_np(key) -> np.ndarray:
    return ((np.asarray(key, dtype=np.int64) * LAT_MULT) % LAT_MOD) / 100.0 - 80.0


def with_coords(df: DataFrame, key: str, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return df.withColumn(lon, spark_col(lon_sql(key))).withColumn(lat, spark_col(lat_sql(key)))


# ------------------------------------------------------------- haversine
def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle metres between two SQL points, formula parity with
    reference geo.py:561-581 (the engine's Column is ``spark_col`` of it)."""
    a = (
        f"(pow(sin((radians({lat2}) - radians({lat1}))/2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin((radians({lon2}) - radians({lon1}))/2), 2))"
    )
    return f"({2 * EARTH_RADIUS_M} * asin(sqrt({a})))"


# ------------------------------------------------------------- admin zones
def make_admin_polygons(n_zones: int = 12, seed: int = 42) -> dict[int, np.ndarray]:
    """Deterministic CCW convex admin polygons over [-170,170]×[-70,70].

    Analog of the reference's AdminBoundaries layer
    (gigaspatial/handlers/boundaries.py): a small polygon dim table that the
    engine broadcasts. Convex by construction (constant-radius vertices at
    sorted angles around a center).
    """
    rng = np.random.RandomState(seed)
    polys: dict[int, np.ndarray] = {}
    for zid in range(n_zones):
        cx = float(rng.uniform(-150, 150))
        cy = float(rng.uniform(-55, 55))
        r = float(rng.uniform(12, 28))
        nv = int(rng.randint(4, 8))
        angles = np.sort(rng.uniform(0, 2 * math.pi, nv))
        # ensure angular gaps (no degenerate near-duplicate vertices)
        verts = np.stack(
            [cx + r * np.cos(angles), cy + 0.7 * r * np.sin(angles)], axis=1
        )
        polys[zid] = np.round(verts, 4)  # round → SQL literals stay exact
    return polys


def convex_contains_sql(poly: np.ndarray, x_sql: str, y_sql: str) -> str:
    """ANSI SQL predicate: point inside convex polygon (boundary incl.;
    either winding — normalized to CCW like every convex kernel).

    Emits the identical arithmetic the numpy kernel (geometry.convex_contains)
    and the native edge-join evaluate, so all three engines agree exactly.
    """
    from .geometry import ensure_ccw

    poly = ensure_ccw(np.asarray(poly, dtype=np.float64))
    n = len(poly)
    terms = []
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        terms.append(edge_term_sql(f"{x1!r}", f"{y1!r}", f"{x2!r} - {x1!r}",
                                   f"{y2!r} - {y1!r}", x_sql, y_sql))
    return "(" + " AND ".join(terms) + ")"


def edge_term_sql(x1: str, y1: str, ex: str, ey: str, x_sql: str,
                  y_sql: str) -> str:
    """Point (x, y) lies left of or on the directed edge from (x1, y1)
    along (ex, ey): cross((ex, ey), p - v1) >= 0, with the operation order
    of geometry.convex_contains. The arguments are SQL text: literals in
    the oracles' per-zone predicate, cover columns in the engine's refine."""
    return (f"(({ex}) * (({y_sql}) - {y1})"
            f" - ({ey}) * (({x_sql}) - {x1})) >= 0.0")


def make_star_polygon(cx: float = 20.0, cy: float = 10.0, r_outer: float = 30.0,
                      r_inner: float = 12.0, points: int = 5) -> np.ndarray:
    """Deterministic non-convex (star) polygon for the general-PIP path."""
    verts = []
    for i in range(points * 2):
        r = r_outer if i % 2 == 0 else r_inner
        a = math.pi * i / points
        verts.append((cx + r * math.cos(a), cy + 0.8 * r * math.sin(a)))
    return np.round(np.asarray(verts, dtype=np.float64), 4)


def raycast_contains_sql(poly: np.ndarray, x_sql: str, y_sql: str) -> str:
    """Even-odd ray-cast containment as plain SQL arithmetic for a literal
    simple polygon — twin of geometry.point_in_polygon: odd number of edges
    where ((y1>py) != (y2>py)) AND px < (x2-x1)*(py-y1)/(y2-y1) + x1."""
    n = len(poly)
    terms = []
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        crossing = (
            f"CASE WHEN (({y1!r} > ({y_sql})) != ({y2!r} > ({y_sql}))) AND "
            f"(({x_sql}) < ({x2!r} - {x1!r}) * (({y_sql}) - {y1!r}) / ({y2!r} - {y1!r}) + {x1!r}) "
            "THEN 1 ELSE 0 END"
        )
        terms.append(crossing)
    return f"((({' + '.join(terms)}) % 2) = 1)"


# ------------------------------------------------------------- facilities
def facilities_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility point layer derived from the supplier table (deterministic
    geocode of s_suppkey) — plays the role of the reference's
    infrastructure POI layer (generators/poi.py)."""
    sup = read_parquet(spark, f"{sf_dir}/supplier.parquet")
    return sup.select(
        F.col("s_suppkey").alias("facility_id"),
        spark_col(lon_sql("s_suppkey")).alias("flon"),
        spark_col(lat_sql("s_suppkey")).alias("flat"),
    )


FACILITIES_SQL = (
    "SELECT s_suppkey AS facility_id, "
    f"{lon_sql('s_suppkey')} AS flon, {lat_sql('s_suppkey')} AS flat "
    "FROM supplier"
)


# ------------------------------------------------------------- parcels
PARCEL_HALF_W_SQL = "(p_size / 10.0)"


def parcels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-aligned box 'parcels' from the part table (center = geocoded
    p_partkey, half-width = p_size/10 degrees, value = p_retailprice).
    Box geometry keeps the fractional-overlay oracle exact in SQL."""
    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    half = F.col("p_size") / F.lit(10.0)
    cx = spark_col(lon_sql("p_partkey"))
    cy = spark_col(lat_sql("p_partkey"))
    return part.select(
        F.col("p_partkey").alias("parcel_id"),
        (cx - half).alias("pminx"),
        (cy - half).alias("pminy"),
        (cx + half).alias("pmaxx"),
        (cy + half).alias("pmaxy"),
        F.col("p_retailprice").alias("value"),
    )


# ------------------------------------------------------------- box zones
def make_box_zones(n_zones: int = 10, seed: int = 7) -> list[tuple[int, float, float, float, float]]:
    """Deterministic axis-aligned box zones (zone_id, zminx, zminy, zmaxx,
    zmaxy) for the SQL-oracle-exact fractional overlay."""
    rng = np.random.RandomState(seed)
    zones = []
    for zid in range(n_zones):
        cx = round(float(rng.uniform(-150, 150)), 2)
        cy = round(float(rng.uniform(-60, 60)), 2)
        w = round(float(rng.uniform(10, 40)), 2)
        h = round(float(rng.uniform(10, 40)), 2)
        zones.append((zid, cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2))
    return zones


def box_zones_df(spark: SparkSession) -> DataFrame:
    return local_df(
        spark, make_box_zones(),
        "zone_id int, zminx double, zminy double, zmaxx double, zmaxy double",
    )


def box_zones_sql() -> str:
    rows = ", ".join(
        f"({zid}, {a!r}, {b!r}, {c!r}, {d!r})" for zid, a, b, c, d in make_box_zones()
    )
    return (
        f"(SELECT * FROM (VALUES {rows})"
        " AS t(zone_id, zminx, zminy, zmaxx, zmaxy))"
    )


PARCELS_SQL = (
    "SELECT p_partkey AS parcel_id, "
    f"({lon_sql('p_partkey')} - {PARCEL_HALF_W_SQL}) AS pminx, "
    f"({lat_sql('p_partkey')} - {PARCEL_HALF_W_SQL}) AS pminy, "
    f"({lon_sql('p_partkey')} + {PARCEL_HALF_W_SQL}) AS pmaxx, "
    f"({lat_sql('p_partkey')} + {PARCEL_HALF_W_SQL}) AS pmaxy, "
    "p_retailprice AS value FROM part"
)


# ------------------------------------------- rectilinear non-convex zones
def make_rectilinear_zones() -> dict[int, dict]:
    """Deterministic NON-CONVEX rectilinear zones for the general fractional
    overlay (reference gpd.overlay on arbitrary polygons, geo.py:1051-1116).
    Each zone carries BOTH representations: the polygon outline(s) the
    general triangulate-and-clip kernel consumes (``rings`` — [outer] or
    [outer, hole]) and an exact disjoint axis-aligned box decomposition
    (``boxes`` — (x1, y1, x2, y2)) the DuckDB oracle sums closed-form box∩box
    areas over. Integer vertices keep every literal exact in both engines."""
    z = {
        # L-shape
        0: {
            "boxes": [(-60.0, -20.0, -40.0, -10.0), (-60.0, -10.0, -52.0, 10.0)],
            "rings": [[[-60.0, -20.0], [-40.0, -20.0], [-40.0, -10.0],
                       [-52.0, -10.0], [-52.0, 10.0], [-60.0, 10.0]]],
        },
        # U-shape (two legs + base)
        1: {
            "boxes": [(30.0, 20.0, 36.0, 44.0), (52.0, 20.0, 58.0, 44.0),
                      (36.0, 20.0, 52.0, 28.0)],
            "rings": [[[30.0, 20.0], [58.0, 20.0], [58.0, 44.0], [52.0, 44.0],
                       [52.0, 28.0], [36.0, 28.0], [36.0, 44.0], [30.0, 44.0]]],
        },
        # plus / cross
        2: {
            "boxes": [(100.0, -40.0, 124.0, -32.0), (108.0, -52.0, 116.0, -40.0),
                      (108.0, -32.0, 116.0, -24.0)],
            "rings": [[[100.0, -40.0], [108.0, -40.0], [108.0, -52.0],
                       [116.0, -52.0], [116.0, -40.0], [124.0, -40.0],
                       [124.0, -32.0], [116.0, -32.0], [116.0, -24.0],
                       [108.0, -24.0], [108.0, -32.0], [100.0, -32.0]]],
        },
        # square with a square hole (signed-triangle path)
        3: {
            "boxes": [(-150.0, 30.0, -140.0, 60.0), (-130.0, 30.0, -120.0, 60.0),
                      (-140.0, 30.0, -130.0, 40.0), (-140.0, 50.0, -130.0, 60.0)],
            "rings": [
                [[-150.0, 30.0], [-120.0, 30.0], [-120.0, 60.0], [-150.0, 60.0]],
                [[-140.0, 40.0], [-130.0, 40.0], [-130.0, 50.0], [-140.0, 50.0]],
            ],
        },
    }
    return z


def rectilinear_zone_rings() -> dict[int, list[np.ndarray]]:
    """zone_id → [outer(, hole)] vertex arrays (the kernel-side view)."""
    return {
        zid: [np.asarray(r, dtype=np.float64) for r in spec["rings"]]
        for zid, spec in make_rectilinear_zones().items()
    }


def rectilinear_overlay_sql() -> str:
    """DuckDB oracle for the general fractional overlay over the
    rectilinear zones: per zone, intersection area = Σ over its disjoint
    decomposition boxes of the closed-form box∩box area."""
    branches = []
    for zid, spec in sorted(make_rectilinear_zones().items()):
        terms = [
            f"(greatest(0.0, least(pmaxx, {x2!r}) - greatest(pminx, {x1!r})) * "
            f"greatest(0.0, least(pmaxy, {y2!r}) - greatest(pminy, {y1!r})))"
            for x1, y1, x2, y2 in spec["boxes"]
        ]
        area = " + ".join(terms)
        branches.append(
            f"SELECT {zid} AS zone_id, value * ({area}) / "
            "((pmaxx - pminx) * (pmaxy - pminy)) AS wv "
            f"FROM p WHERE ({area}) > 1e-9"  # overlay.AREA_EPS tangency guard
        )
    un = " UNION ALL ".join(branches)
    return (
        f"WITH p AS ({PARCELS_SQL}), j AS ({un}) "
        "SELECT zone_id, round(sum(wv), 1) AS wsum, count(*) AS parcel_count "
        "FROM j GROUP BY zone_id"
    )
