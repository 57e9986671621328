"""Coordinate reference system transforms — one table of projections.

Reference: zonal/base.py:448-461 looks every CRS up once through a cached
pyproj transformer and reprojects zone GeoDataFrames between arbitrary
CRSs; tif_processor.py:205 reprojects rasters. pyproj/GDAL are absent
here, so the engine resolves a CRS to one of its own from-scratch
projections through ``projection(crs)``, the one place a code maps to a
projection. It accepts:

  - a named code from ``_TABLE``: EPSG:4326 (geographic lon/lat, the
    engine's canonical frame), EPSG:3857 (spherical web mercator),
    ESRI:54009 (Mollweide), EPSG:3035 (LAEA Europe), EPSG:5070 (Conus
    Albers), EPSG:2154 (Lambert-93), EPSG:3413 / EPSG:3031 (NSIDC polar
    stereographic) and EPSG:32601-32660 / 32701-32760 (UTM north/south);
  - a name given to ``register_crs``;
  - a GeoTIFF GeoKey parameter dict (``projection_from_params``).

Every projection has vectorized forward(lon, lat) -> (x, y) and
inverse(x, y) -> (lon, lat) in degrees/meters, and every transform routes
through 4326 (exact composition of exact legs). `transform_points` is the
numpy kernel; `reproject_rings` lifts it over a normalized feature
table's `rings` column inside one Arrow pass; the GeoTIFF reader
inverse-projects pixel centres with the same objects.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import albers, laea, lcc, mollweide, polar, utm

# user-registered projection objects (anything with forward/inverse over
# degree/meter arrays — LambertConformal, AlbersConic, LaeaAzimuthal
# instances): the role of the reference's cached arbitrary-CRS pyproj
# transformers (zonal/base.py:448-461) for parameters no EPSG code names
_CUSTOM: dict[str, object] = {}


def register_crs(name: str, projection) -> None:
    """Register a parameterized projection instance under a name usable
    anywhere a CRS string is accepted (transform_points, reproject_rings).
    ``projection`` needs vectorized forward(lon, lat)->(x, y) and
    inverse(x, y)->(lon, lat) in degrees/meters."""
    key = name.upper().replace(" ", "")
    for attr in ("forward", "inverse"):
        if not callable(getattr(projection, attr, None)):
            raise TypeError(f"projection must define {attr}(…)")
    _CUSTOM[key] = projection


# GeoTIFF ProjCoordTransGeoKey codes → parameterized families
_CT_TM = 1
_CT_LCC_2SP = 8
_CT_LAEA = 10
_CT_ALBERS = 11
_CT_POLAR_STEREO = 15


def projection_from_params(p: dict):
    """Build a projection instance from user-defined GeoTIFF GeoKey
    parameters: {"ct": coord-trans code, "sp1", "sp2", "lat0", "lon0",
    "x0", "y0"[, "a", "e2"]}. Supports the conic/azimuthal families the
    engine implements from scratch (LCC 2SP=8, LAEA=10, Albers=11)."""
    ct = int(p["ct"])

    def need(*names):
        missing = [n for n in names if p.get(n) is None]
        if missing:
            raise ValueError(
                f"user-defined projection (ProjCoordTransGeoKey {ct}) is "
                f"missing required GeoKey parameter(s): {missing} — the "
                "GeoDoubleParams tag must carry them"
            )

    kw = {}
    if "a" in p:
        kw["a"] = float(p["a"])
    if "e2" in p:
        kw["e2"] = float(p["e2"])
    elif "inv_f" in p:
        f = 1.0 / float(p["inv_f"])
        kw["e2"] = f * (2.0 - f)
    if ct == _CT_TM:
        need("lat0", "lon0")
        tm_kw = {}
        if "a" in p:
            tm_kw["a"] = float(p["a"])
        if "inv_f" in p:
            tm_kw["inv_f"] = float(p["inv_f"])
        return utm.TransverseMercator(
            p["lat0"], p["lon0"], p.get("k0", 1.0),
            p.get("x0", 0.0), p.get("y0", 0.0), **tm_kw,
        )
    if ct == _CT_LCC_2SP:
        need("sp1", "sp2", "lat0", "lon0")
        return lcc.LambertConformal(
            p["sp1"], p["sp2"], p["lat0"], p["lon0"],
            p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    if ct == _CT_ALBERS:
        need("sp1", "sp2", "lat0", "lon0")
        return albers.AlbersConic(
            p["sp1"], p["sp2"], p["lat0"], p["lon0"],
            p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    if ct == _CT_LAEA:
        need("lat0", "lon0")
        return laea.LaeaAzimuthal(
            p["lat0"], p["lon0"], p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    if ct == _CT_POLAR_STEREO:
        # lat_ts arrives in sp1 (ProjStdParallel1GeoKey) per GeoTIFF
        # convention; fall back to lat0 for writers that use NatOriginLat
        lat_ts = p.get("sp1")
        if lat_ts is None:
            need("lat0")
            lat_ts = p["lat0"]
        return polar.PolarStereographic(
            lat_ts, p["lon0"], p.get("x0", 0.0), p.get("y0", 0.0), **kw,
        )
    raise ValueError(
        f"unsupported ProjCoordTransGeoKey {ct} — user-defined GeoTIFF "
        "projections are supported for TM (1), LCC 2SP (8), LAEA (10), "
        "Albers (11) and polar stereographic (15); named EPSG codes "
        "cover the other families"
    )


class _Geographic:
    """EPSG:4326: lon/lat degrees in and out."""

    def forward(self, lon, lat):
        return lon, lat

    inverse = forward


class _WebMercator:
    """EPSG:3857: spherical mercator on the WGS84 semi-major axis."""

    R = 6378137.0

    def forward(self, lon, lat):
        x = np.radians(lon) * self.R
        lat_c = np.clip(lat, -85.05112878, 85.05112878)
        return x, self.R * np.arcsinh(np.tan(np.radians(lat_c)))

    def inverse(self, x, y):
        return (
            np.degrees(x / self.R),
            np.degrees(np.arctan(np.sinh(y / self.R))),
        )


class _UtmZone:
    """EPSG:326zz / 327zz: UTM zone zz, north / south (functions/utm).

    The Krüger series holds near the central meridian only: a round trip
    is exact to 1e-6° within 60° of longitude of it, off by 1.5e-3° at
    80° and by up to 178° near 90°, so ``forward`` gives NaN for points
    more than 60° (after wrapping) from the zone's central meridian."""

    BAND_DEG = 60.0

    def __init__(self, zone: int, south: bool):
        self.zone, self.south = zone, south

    def forward(self, lon, lat):
        lon = np.asarray(lon, dtype=np.float64)
        dlon = (lon - utm.zone_central_meridian(self.zone) + 180.0) % 360.0 - 180.0
        with np.errstate(all="ignore"):
            e, n = utm.utm_forward(
                np.where(np.abs(dlon) <= self.BAND_DEG, lon, np.nan), lat, self.zone
            )
        # one planar frame per code, as utm_inverse reads it: 326zz has no
        # false northing (southern points go negative), 327zz adds
        # 10,000,000 m to every point (northern points go past it)
        other = (np.asarray(lat) < 0) != self.south
        return e, np.where(other, n + (10_000_000.0 if self.south else -10_000_000.0), n)

    def inverse(self, x, y):
        return utm.utm_inverse(x, y, self.zone, south=self.south)


# named code (and its aliases) → projection
_TABLE: dict[str, object] = {
    **dict.fromkeys(("EPSG:4326", "WGS84", "4326"), _Geographic()),
    **dict.fromkeys(("EPSG:3857", "EPSG:900913", "3857"), _WebMercator()),
    **dict.fromkeys(("ESRI:54009", "54009"), mollweide),
    **dict.fromkeys(("EPSG:3035", "3035"), laea.EPSG_3035),
    **dict.fromkeys(("EPSG:5070", "5070"), albers.EPSG_5070),
    **dict.fromkeys(("EPSG:2154", "2154"), lcc.EPSG_2154),
    **dict.fromkeys(("EPSG:3413", "3413"), polar.EPSG_3413),
    **dict.fromkeys(("EPSG:3031", "3031"), polar.EPSG_3031),
    **{
        f"EPSG:32{6 + south}{zone:02d}": _UtmZone(zone, bool(south))
        for south in (0, 1)
        for zone in range(1, 61)
    },
}


def projection(crs: str | dict):
    """The projection behind ``crs``: a GeoKey parameter dict, a
    ``register_crs`` name, or a named code of ``_TABLE``."""
    if isinstance(crs, dict):
        return projection_from_params(crs)
    key = crs.upper().replace(" ", "")
    pj = _CUSTOM.get(key, _TABLE.get(key))
    if pj is None:
        raise ValueError(
            f"unsupported crs {crs!r} — supported: "
            f"{', '.join([*_TABLE, *_CUSTOM])}; register_crs() adds names"
        )
    return pj


def transform_points(
    xs, ys, from_crs: str = "EPSG:4326", to_crs: str = "EPSG:4326"
):
    """Vectorized CRS transform; routes through geographic lon/lat."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    lon, lat = projection(from_crs).inverse(xs, ys)
    return projection(to_crs).forward(lon, lat)


def reproject_rings(
    df, from_crs: str, to_crs: str, rings_col: str = "rings"
):
    """Normalized feature table → same table with `rings` reprojected.
    Mirrors the reference's gdf.to_crs() over zone layers
    (zonal/base.py:448-461). The rings cross into Python as JSON STRINGS
    (native to_json / from_json wrap the scalar Arrow UDF): this Spark
    build's Arrow deserializer SEGFAULTS on nested-array/map UDF inputs
    when a partition is empty or the column is all-null in a batch
    (measured — minimal repro in tests), while primitive string columns
    are safe. Every other column (incl. map-typed properties) stays
    JVM-side untouched."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    # resolve now, on the driver: custom-registered projections live in
    # the driver's _CUSTOM registry, which does NOT exist on executors —
    # the resolved (picklable) projection objects ship in the closure
    src, dst = projection(from_crs), projection(to_crs)

    def _tx(xs, ys):
        return dst.forward(*src.inverse(xs, ys))

    @F.pandas_udf(StringType())
    def kernel(col: pd.Series) -> pd.Series:
        def go(doc):
            if doc is None:
                return None
            rings = json.loads(doc)
            nr = []
            for ring in rings:
                arr = np.asarray(ring, dtype=np.float64)
                if len(arr):
                    x, y = _tx(arr[:, 0], arr[:, 1])
                    nr.append(np.column_stack([x, y]).tolist())
                else:
                    nr.append([])
            return json.dumps(nr)

        return col.map(go)

    rings_t = "array<array<array<double>>>"
    return df.withColumn(
        rings_col,
        F.from_json(kernel(F.to_json(F.col(rings_col))), rings_t),
    )
