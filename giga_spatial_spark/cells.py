"""Web-Mercator tile / quadkey cell index — native Spark column expressions.

Reproduces the reference's MercatorTiles semantics
(gigaspatial/grid/mercator_tiles.py:19-39, point→tile→quadkey :314-335,
bbox→tiles :61-87) as pure integer/float column math — no UDF, fully inside
whole-stage codegen. Every expression has a twin ANSI-SQL emitter so DuckDB
oracles compute the identical value.

tile id convention: a single BIGINT packing (zoom, x, y):
  tile_id = (x << 32) | y     (zoom carried separately / fixed per query)
Quadkey emitted as a string of digits (Bing Maps convention,
digit_i = 2*y_bit + x_bit from the most significant level).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_MERC_LAT = 85.05112878


# ---------------------------------------------------------------- Spark side
def tile_x(lon: Column, zoom: int) -> Column:
    """xtile = floor((lon+180)/360 * 2^zoom), clamped to [0, 2^zoom-1]."""
    n = F.lit(float(2**zoom))
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    return F.least(F.greatest(raw, F.lit(0)), F.lit(2**zoom - 1)).cast("bigint")


def tile_y(lat: Column, zoom: int) -> Column:
    """ytile = floor((1 - ln(tan(φ) + 1/cos(φ))/π)/2 * 2^zoom), clamped."""
    n = F.lit(float(2**zoom))
    phi = F.radians(F.least(F.greatest(lat, F.lit(-MAX_MERC_LAT)), F.lit(MAX_MERC_LAT)))
    raw = F.floor(
        (F.lit(1.0) - F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi)) / F.lit(math.pi))
        / F.lit(2.0)
        * n
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(2**zoom - 1)).cast("bigint")


def tile_id(lon: Column, lat: Column, zoom: int) -> Column:
    """Packed (x<<32)|y tile id at fixed zoom — the engine's cell key."""
    return F.shiftleft(tile_x(lon, zoom), 32) + tile_y(lat, zoom)


def quadkey(lon: Column, lat: Column, zoom: int) -> Column:
    """Bing-Maps quadkey string (reference mercator_tiles.py:314-335)."""
    x, y = tile_x(lon, zoom), tile_y(lat, zoom)
    digits = []
    for i in range(zoom):
        shift = zoom - 1 - i
        d = (F.shiftright(y, shift) % 2) * 2 + (F.shiftright(x, shift) % 2)
        digits.append(d.cast("string"))
    return F.concat(*digits)


# ---------------------------------------------------------------- SQL twins
def tile_x_sql(lon_sql: str, zoom: int) -> str:
    n = 2**zoom
    raw = f"floor(({lon_sql} + 180.0) / 360.0 * {float(n)})"
    return f"cast(least(greatest({raw}, 0), {n - 1}) as bigint)"


def tile_y_sql(lat_sql: str, zoom: int) -> str:
    n = 2**zoom
    phi = f"radians(least(greatest({lat_sql}, {-MAX_MERC_LAT}), {MAX_MERC_LAT}))"
    raw = (
        f"floor((1.0 - ln(tan({phi}) + 1.0/cos({phi})) / pi()) / 2.0 * {float(n)})"
    )
    return f"cast(least(greatest({raw}, 0), {n - 1}) as bigint)"


def tile_id_sql(lon_sql: str, lat_sql: str, zoom: int) -> str:
    return f"(({tile_x_sql(lon_sql, zoom)} * 4294967296) + {tile_y_sql(lat_sql, zoom)})"


def quadkey_sql(lon_sql: str, lat_sql: str, zoom: int) -> str:
    x = tile_x_sql(lon_sql, zoom)
    y = tile_y_sql(lat_sql, zoom)
    digits = []
    for i in range(zoom):
        shift = zoom - 1 - i
        digits.append(
            f"cast((({y} >> {shift}) % 2) * 2 + (({x} >> {shift}) % 2) as varchar)"
        )
    return "concat(" + ", ".join(digits) + ")"


# ------------------------------------------------------------ driver helpers
def tile_xy_np(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Numpy twin of tile_x/tile_y for UDF-side and test-oracle use."""
    n = float(2**zoom)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    x = np.floor((lon + 180.0) / 360.0 * n)
    phi = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / math.pi) / 2.0 * n)
    x = np.clip(x, 0, 2**zoom - 1).astype(np.int64)
    y = np.clip(y, 0, 2**zoom - 1).astype(np.int64)
    return x, y


def pack_tile(x, y):
    return (np.int64(x) << np.int64(32)) + np.int64(y)


def tile_bounds(x: int, y: int, zoom: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of tile — mercator_tiles.py:290-302."""
    n = 2.0**zoom
    min_lon = x / n * 360.0 - 180.0
    max_lon = (x + 1) / n * 360.0 - 180.0
    max_lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
    min_lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n))))
    return (min_lon, min_lat, max_lon, max_lat)


def bbox_cover(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float, zoom: int
) -> list[tuple[int, int]]:
    """All (x, y) tiles intersecting a lon/lat bbox (reference
    MercatorTiles.from_bounds, mercator_tiles.py:61-87). Driver-side: covers
    are small (query geometries), matching the reference's driver-side
    RegionCoverer usage."""
    x0, y1 = tile_xy_np(np.array([min_lon]), np.array([min_lat]), zoom)
    x1, y0 = tile_xy_np(np.array([max_lon]), np.array([max_lat]), zoom)
    return [
        (x, y)
        for x in range(int(x0[0]), int(x1[0]) + 1)
        for y in range(int(y0[0]), int(y1[0]) + 1)
    ]


_cover_cache: dict = {}


def polygon_cover(poly: np.ndarray, zoom: int, exact: bool = True) -> list[tuple[int, int]]:
    """Tiles intersecting a convex CCW polygon. bbox cover refined by a
    box-vs-convex-polygon intersection test (separating-axis on polygon
    edges + bbox sides) — analog of the reference's exact intersect filter
    after RegionCoverer (grid/s2.py:133-187). Vectorized over candidate
    tiles and memoized (covers are re-requested per query plan build)."""
    from .geometry import ensure_ccw, polygon_bbox

    poly = ensure_ccw(np.asarray(poly, dtype=np.float64))
    key = (poly.tobytes(), zoom, exact)
    hit = _cover_cache.get(key)
    if hit is not None:
        return hit

    minx, miny, maxx, maxy = polygon_bbox(poly)
    cand = bbox_cover(minx, miny, maxx, maxy, zoom)
    if not exact:
        _cover_cache[key] = cand
        return cand
    xs = np.array([c[0] for c in cand], dtype=np.int64)
    ys = np.array([c[1] for c in cand], dtype=np.int64)
    n_grid = 2.0**zoom
    bminx = xs / n_grid * 360.0 - 180.0
    bmaxx = (xs + 1) / n_grid * 360.0 - 180.0
    bmaxy = np.degrees(np.arctan(np.sinh(math.pi * (1 - 2 * ys / n_grid))))
    bminy = np.degrees(np.arctan(np.sinh(math.pi * (1 - 2 * (ys + 1) / n_grid))))
    keep = np.ones(len(cand), dtype=bool)
    # bbox separation
    keep &= ~(
        (poly[:, 0].max() < bminx)
        | (poly[:, 0].min() > bmaxx)
        | (poly[:, 1].max() < bminy)
        | (poly[:, 1].min() > bmaxy)
    )
    # SAT on polygon edges: all 4 box corners strictly outside one edge
    nv = len(poly)
    for i in range(nv):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % nv]
        ex, ey = x2 - x1, y2 - y1
        sep = np.ones(len(cand), dtype=bool)
        for cx, cy in ((bminx, bminy), (bmaxx, bminy), (bmaxx, bmaxy), (bminx, bmaxy)):
            sep &= (ex * (cy - y1) - ey * (cx - x1)) < 0
        keep &= ~sep
    out = [(int(x), int(y)) for x, y in zip(xs[keep], ys[keep])]
    _cover_cache[key] = out
    return out


def compact_quadkeys(qks: set[str] | list[str]) -> list[str]:
    """Multi-resolution compaction (reference h3.compact_cells usage,
    grid/h3.py:395-412): replace any complete sibling set by its parent,
    repeatedly. Driver-side (cover sets are small)."""
    cells_set = set(qks)
    changed = True
    while changed:
        changed = False
        parents = {q[:-1] for q in cells_set if len(q) > 0}
        for p in parents:
            kids = {p + d for d in "0123"}
            if kids <= cells_set:
                cells_set -= kids
                cells_set.add(p)
                changed = True
    return sorted(cells_set)


def expand_quadkey(qk: str, zoom: int) -> list[str]:
    """Inverse of compaction: all descendants of qk at `zoom`."""
    if len(qk) >= zoom:
        return [qk]
    out = [qk]
    for _ in range(zoom - len(qk)):
        out = [q + d for q in out for d in "0123"]
    return out


def tile_center(x: int, y: int, zoom: int) -> tuple[float, float]:
    """(lon, lat) of the tile's mercator midpoint ((x+0.5, y+0.5) inverse-
    projected) — the standard web-mercator tile center."""
    n = 2.0**zoom
    lon = (x + 0.5) / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 0.5) / n))))
    return lon, lat


def tile_center_sql(zoom: int, x_sql: str = "tile_x", y_sql: str = "tile_y") -> tuple[str, str]:
    """(clon, clat) SQL twins of tile_center — identical arithmetic so a
    DuckDB oracle recomputes centers bit-for-bit (modulo 1-ulp trig)."""
    n = float(2.0**zoom)
    clon = f"(({x_sql} + 0.5) / {n!r} * 360.0 - 180.0)"
    t = f"(pi() * (1 - 2 * ({y_sql} + 0.5) / {n!r}))"
    # DuckDB has no sinh(): (e^t - e^-t)/2 differs from math.sinh by ≤1 ulp,
    # far inside the raycast margins the center-membership oracles rely on
    clat = f"degrees(atan((exp({t}) - exp(-{t})) / 2))"
    return clon, clat


def tile_polyfill(
    boundary: np.ndarray, zoom: int, mode: str = "center"
) -> list[tuple[int, int]]:
    """Tiles covering a boundary polygon (reference MercatorTiles.from_
    polygon role, mercator_tiles.py): bbox candidates, then
      mode='center'      keeps tiles whose mercator center is inside
      mode='intersects'  keeps tiles whose box intersects the polygon
    (exact box-vs-simple-polygon test — non-convex boundaries allowed)."""
    from .geometry import point_in_polygon

    b = np.asarray(boundary, dtype=np.float64)
    cand = bbox_cover(
        float(b[:, 0].min()), float(b[:, 1].min()),
        float(b[:, 0].max()), float(b[:, 1].max()), zoom,
    )
    if not cand:
        return []
    if mode == "center":
        ctr = np.array([tile_center(x, y, zoom) for x, y in cand])
        keep = point_in_polygon(b, ctr[:, 0], ctr[:, 1])
        return [t for t, k in zip(cand, keep) if k]
    if mode == "intersects":
        from .operators.overlay import _box_intersects_poly_np

        bb = np.array([tile_bounds(x, y, zoom) for x, y in cand])
        keep = _box_intersects_poly_np(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3], b)
        return [t for t, k in zip(cand, keep) if k]
    raise ValueError(f"unknown polyfill mode {mode!r}")


def tile_area_m2(x: int, y: int, zoom: int, radius_m: float = 6371e3) -> float:
    """Exact spherical area of the tile's lon/lat box:
    R² · Δλ · (sin φmax − sin φmin)."""
    min_lon, min_lat, max_lon, max_lat = tile_bounds(x, y, zoom)
    dlam = math.radians(max_lon - min_lon)
    return radius_m * radius_m * dlam * (
        math.sin(math.radians(max_lat)) - math.sin(math.radians(min_lat))
    )
