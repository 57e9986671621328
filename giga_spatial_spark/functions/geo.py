"""Geo scalar functions (SURVEY.md §2.9) — native column expressions where
possible, numpy kernels otherwise. References cited per function."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def utm_epsg_expr(lon: Column, lat: Column) -> Column:
    """UTM CRS estimation (reference estimate_utm_crs_with_fallback,
    processing/geo.py:21-66): zone from centroid longitude, hemisphere from
    latitude; EPSG 326xx north / 327xx south."""
    zone = (F.floor((lon + 180.0) / 6.0) + 1).cast("int")
    zone = F.least(F.greatest(zone, F.lit(1)), F.lit(60))
    return F.when(lat >= 0, 32600 + zone).otherwise(32700 + zone)


def add_spatial_jitter(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    amount_deg: float = 0.0001,
    seed: int = 42,
    max_rounds: int = 16,
    _offsets=None,
) -> DataFrame:
    """Jitter duplicate coordinates until NONE remain (reference
    add_spatial_jitter, geo.py:327-409): every member of a duplicate group
    moves (pandas `duplicated(keep=False)` semantics), and if the jittered
    frame still contains duplicates the pass repeats with DOUBLED amplitude
    — the reference's recursive tail, closed here as a driver loop with a
    localCheckpoint per round (iterative plans otherwise snowball).

    ``amount_deg`` must be positive (reference raises too). ``_offsets`` is
    a test seam: round → (dlon_col, dlat_col) unit offsets in [-1, 1];
    default seeded F.rand, so runs are reproducible."""
    if amount_deg <= 0:
        raise ValueError("Jitter amount must be positive")
    if _offsets is None:
        def _offsets(rnd: int):  # noqa: ANN202
            return (
                F.rand(seed + 2 * rnd) * 2 - 1,
                F.rand(seed + 2 * rnd + 1) * 2 - 1,
            )

    amount = amount_deg
    for rnd in range(max_rounds):
        w = Window.partitionBy(lon, lat)
        df = df.withColumn("__dup", F.count(F.lit(1)).over(w) > 1)
        if df.where(F.col("__dup")).isEmpty():
            return df.drop("__dup")
        ux, uy = _offsets(rnd)
        df = (
            df.withColumn(
                lon,
                F.when(F.col("__dup"), F.col(lon) + ux * amount).otherwise(F.col(lon)),
            )
            .withColumn(
                lat,
                F.when(F.col("__dup"), F.col(lat) + uy * amount).otherwise(F.col(lat)),
            )
            .drop("__dup")
            .localCheckpoint()
        )
        amount *= 2
    raise RuntimeError(
        f"jitter failed to separate duplicate coordinates in {max_rounds} rounds"
    )


def polygon_area_m2(poly: np.ndarray) -> float:
    """Geodesic-approximate polygon area in m² (reference add_area_in_meters,
    geo.py:438-477, does a UTM round-trip): shoelace in a local
    equirectangular frame anchored at the centroid latitude — within ~0.1%
    of the UTM answer for the admin-zone-sized polygons this engine joins."""
    lat0 = float(np.mean(poly[:, 1]))
    m_per_deg = 111_194.9
    x = poly[:, 0] * m_per_deg * math.cos(math.radians(lat0))
    y = poly[:, 1] * m_per_deg
    return 0.5 * float(
        abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    )


def simplify_polyline(points: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas–Peucker simplification (reference simplify_geometries,
    geo.py:480-520 wraps shapely.simplify). Iterative stack implementation."""
    n = len(points)
    if n < 3:
        return points
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        s, e = stack.pop()
        if e <= s + 1:
            continue
        seg = points[e] - points[s]
        # explicit sqrt(x²+y²) rather than np.hypot: hypot's extra
        # guard-digit path has no SQL twin, and the DuckDB oracle must
        # reproduce these doubles bit-for-bit (q_simplify)
        seg_len = np.sqrt(seg[0] * seg[0] + seg[1] * seg[1])
        diff = points[s + 1 : e] - points[s]
        if seg_len == 0:
            d = np.sqrt(diff[:, 0] * diff[:, 0] + diff[:, 1] * diff[:, 1])
        else:
            d = np.abs(np.cross(seg, diff)) / seg_len
        idx = int(np.argmax(d))
        if d[idx] > tolerance:
            k = s + 1 + idx
            keep[k] = True
            stack.append((s, k))
            stack.append((k, e))
    return points[keep]


def _segments_cross(p1, p2, p3, p4) -> bool:
    """Proper crossing of open segments p1p2 / p3p4 (shared endpoints and
    collinear touching do not count — ring neighbors always share a vertex)."""
    d1 = np.cross(p4 - p3, p1 - p3)
    d2 = np.cross(p4 - p3, p2 - p3)
    d3 = np.cross(p2 - p1, p3 - p1)
    d4 = np.cross(p2 - p1, p4 - p1)
    return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and (
        d1 != 0 or d2 != 0
    ) and (d3 != 0 or d4 != 0)


def ring_is_simple(ring: np.ndarray) -> bool:
    """True when the closed ring has no self-intersection (O(k²) over the
    ring's segments — rings are simplification OUTPUT, so k is small)."""
    ring = np.asarray(ring, dtype=np.float64)
    n = len(ring)
    if n < 3:
        return False
    segs = [(ring[i], ring[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue  # ring-adjacent pair
            if _segments_cross(*segs[i], *segs[j]):
                return False
    return True


def simplify_ring_preserve_topology(
    ring: np.ndarray, tolerance: float
) -> np.ndarray:
    """Topology-preserving ring simplification (reference
    simplify_geometries, geo.py:480-520, wraps shapely.simplify with
    preserve_topology=True — the result is guaranteed valid). Strategy:
    Douglas–Peucker on the closed ring, then REPAIR — if the simplified
    ring self-intersects or collapses, retry with halved tolerance until it
    is simple again (tolerance → 0 reproduces the input, which is simple by
    precondition, so the loop terminates)."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) < 4:
        return ring
    tol = float(tolerance)
    while True:
        closed = np.vstack([ring, ring[:1]])
        simp = simplify_polyline(closed, tol)[:-1]
        if len(simp) >= 3 and ring_is_simple(simp):
            return simp
        tol /= 2.0
        if tol < 1e-12:
            return ring


def mercator_meters_per_pixel(lat: Column, zoom: int) -> Column:
    """Ground resolution at latitude (reference calculate_pixels_at_location
    geo.py:1176-1213): 156543.03392 * cos(lat) / 2^zoom."""
    return F.lit(156543.03392) * F.cos(F.radians(lat)) / F.lit(float(2**zoom))


def pixels_for_meters(lat: Column, meters: Column, zoom: int) -> Column:
    return meters / mercator_meters_per_pixel(lat, zoom)

