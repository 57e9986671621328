"""The one CRS table (functions.crs.projection): every named code it holds
round-trips through transform_points, and a GeoTIFF tagged with the code
decodes to exactly the lon/lat transform_points gives its pixel centres."""

import numpy as np
import pytest

from giga_spatial_spark.functions import crs
from giga_spatial_spark.functions.crs import projection, transform_points


def _codes() -> list[str]:
    """The first (EPSG:/ESRI:) name of each projection in the table."""
    seen, codes = set(), []
    for code, pj in crs._TABLE.items():
        if id(pj) not in seen:
            seen.add(id(pj))
            codes.append(code)
    return codes


CODES = _codes()

# a lon/lat well inside each non-UTM code's domain
_ANCHORS = {
    "EPSG:4326": (10.0, 50.0),
    "EPSG:3857": (10.0, 50.0),
    "ESRI:54009": (10.0, 50.0),
    "EPSG:3035": (10.0, 52.0),
    "EPSG:5070": (-96.0, 40.0),
    "EPSG:2154": (3.0, 46.5),
    "EPSG:3413": (-45.0, 75.0),
    "EPSG:3031": (0.0, -75.0),
}


def _anchor(code: str) -> tuple[float, float]:
    if code in _ANCHORS:
        return _ANCHORS[code]
    zone, south = int(code[-2:]), code.startswith("EPSG:327")
    return zone * 6.0 - 183.0, -45.0 if south else 45.0


def test_table_codes():
    assert len(CODES) == len(_ANCHORS) + 120
    assert set(_ANCHORS) <= set(CODES)
    # the aliases the engine has always accepted resolve to their code
    for alias, code in [
        ("WGS84", "EPSG:4326"), ("4326", "EPSG:4326"),
        ("EPSG:900913", "EPSG:3857"), ("3857", "EPSG:3857"),
        ("54009", "ESRI:54009"), ("3035", "EPSG:3035"),
        ("5070", "EPSG:5070"), ("2154", "EPSG:2154"),
        ("3413", "EPSG:3413"), ("3031", "EPSG:3031"),
        ("epsg:32632", "EPSG:32632"), ("EPSG: 32760", "EPSG:32760"),
    ]:
        assert projection(alias) is projection(code), alias


@pytest.mark.parametrize("code", CODES)
def test_code_round_trips(code):
    lon0, lat0 = _anchor(code)
    rng = np.random.RandomState(7)
    lon = lon0 + rng.uniform(-2.0, 2.0, 200)
    lat = lat0 + rng.uniform(-2.0, 2.0, 200)
    x, y = transform_points(lon, lat, "EPSG:4326", code)
    lon2, lat2 = transform_points(x, y, code, "EPSG:4326")
    assert np.abs(lon2 - lon).max() < 1e-7
    assert np.abs(lat2 - lat).max() < 1e-7


@pytest.mark.parametrize("code", CODES)
def test_code_geotiff_decode(spark, tmp_path, code):
    from giga_spatial_spark.sources.geotiff import tiff_pixel_table, write_tiff

    lon, lat = _anchor(code)
    (x0,), (y1,) = transform_points([lon], [lat], "EPSG:4326", code)
    dx = 0.01 if code == "EPSG:4326" else 1000.0
    path = str(tmp_path / "t.tif")
    write_tiff(
        path, np.arange(4.0).reshape(2, 2), lon0=float(x0), lat1=float(y1),
        dx=dx, dy=dx, crs=code,
    )
    pdf = tiff_pixel_table(spark, path).toPandas().sort_values(["py", "px"])
    row = 1 - pdf["py"].to_numpy()  # row 0 is the north edge
    xs = x0 + (pdf["px"].to_numpy() + 0.5) * dx
    ys = y1 - (row + 0.5) * dx
    want_lon, want_lat = transform_points(xs, ys, code, "EPSG:4326")
    assert pdf["lon"].tolist() == want_lon.tolist()
    assert pdf["lat"].tolist() == want_lat.tolist()



def test_utm_gives_nan_far_from_the_zone():
    """Global points through every UTM code: within 60° of longitude of the
    zone's central meridian a round trip is exact to 1e-6° (either
    hemisphere, in either hemisphere's frame); beyond it forward is NaN,
    and no numpy warning escapes either way."""
    import warnings

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180.0, 180.0, 2000)
    lat = rng.uniform(-90.0, 90.0, 2000)
    for code in [c for c in CODES if c.startswith(("EPSG:326", "EPSG:327"))]:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            x, y = transform_points(lon, lat, "EPSG:4326", code)
            lon2, lat2 = transform_points(x, y, code, "EPSG:4326")
        dlon = (lon - (int(code[-2:]) * 6.0 - 183.0) + 180.0) % 360.0 - 180.0
        band = np.abs(dlon) <= 60.0
        assert 500 < band.sum() < 1500, code
        assert np.isnan(x[~band]).all() and np.isnan(y[~band]).all(), code
        assert np.abs((lon2 - lon + 180.0) % 360.0 - 180.0)[band].max() < 1e-6, code
        assert np.abs(lat2 - lat)[band].max() < 1e-6, code
