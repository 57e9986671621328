"""UTM round-trip projection, XLSX codec, and the small admin-normalization
helpers (title-casing, ISO3, coord-column detection, coverage stats)."""

import numpy as np

from giga_spatial_spark.functions.utm import (
    buffer_point_utm,
    polygon_area_utm,
    utm_forward,
    utm_inverse,
    utm_zone,
)
from giga_spatial_spark.geometry import haversine_np
from giga_spatial_spark.operators.normalize import (
    coverage_stats,
    detect_coord_columns,
    iso3_expr,
    register_country,
    titlecase_admin_expr,
)
from giga_spatial_spark.sources.xlsx import read_xlsx, write_xlsx


def test_utm_roundtrip_submillimeter():
    rng = np.random.RandomState(3)
    lon = rng.uniform(-179, 179, 3000)
    lat = rng.uniform(-84, 84, 3000)
    zones = np.floor((lon + 180) / 6).astype(int) + 1
    for z in np.unique(zones):
        m = zones == z
        e, n = utm_forward(lon[m], lat[m], int(z))
        lo, la = utm_inverse(e, n, int(z), south=lat[m] < 0)
        assert np.abs(lo - lon[m]).max() < 1e-8  # ≈ 1 mm
        assert np.abs(la - lat[m]).max() < 1e-8


def test_utm_known_anchors():
    # central meridian at the equator is exactly (500000, 0)
    e, n = utm_forward(np.array([3.0]), np.array([0.0]), 31)
    assert abs(e[0] - 500_000.0) < 1e-6 and abs(n[0]) < 1e-6
    # southern false northing
    e, n = utm_forward(np.array([3.0]), np.array([-0.001]), 31)
    assert n[0] > 9_999_000
    assert utm_zone(-180.0) == 1 and utm_zone(179.99) == 60


def test_buffer_point_utm_radius():
    for lon, lat, r in [(12.5, 41.9, 50_000.0), (-70.1, -33.4, 10_000.0)]:
        ring = buffer_point_utm(lon, lat, r, n_points=48)
        d = haversine_np(np.full(48, lat), np.full(48, lon), ring[:, 1], ring[:, 0])
        # spherical-haversine vs ellipsoidal-UTM disagree by ~0.5% at most
        assert np.abs(d - r).max() / r < 0.006


def test_polygon_area_utm_vs_equirectangular():
    from giga_spatial_spark.functions.geo import polygon_area_m2

    poly = np.array([[10.0, 45.0], [10.5, 45.0], [10.5, 45.4], [10.0, 45.4]])
    a_utm = polygon_area_utm(poly)
    a_eq = polygon_area_m2(poly)
    assert abs(a_utm - a_eq) / a_utm < 0.01  # same magnitude, UTM is the precise one


def test_xlsx_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "alpha", 1.5, True), (2, "béta & <co>", -2.25, False), (3, None, None, None)],
        "id long, name string, score double, flag boolean",
    )
    path = str(tmp_path / "t.xlsx")
    write_xlsx(df, path)
    back = read_xlsx(spark, path)
    assert back.columns == ["id", "name", "score", "flag"]
    rows = {r["id"]: r for r in back.collect()}
    assert rows[2]["name"] == "béta & <co>" and rows[2]["score"] == -2.25
    assert rows[1]["flag"] is True and rows[3]["name"] is None
    # dispatch path
    from giga_spatial_spark.sources.readers import read_dataset, write_dataset

    p2 = str(tmp_path / "t2.xlsx")
    write_dataset(df, p2)
    assert read_dataset(spark, p2).count() == 3


def test_xlsx_nonfinite_floats_become_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, 2.5)],
        "id long, v double",
    )
    path = str(tmp_path / "nf.xlsx")
    write_xlsx(df, path)
    # the sheet XML must not contain invalid numeric cells
    import zipfile

    with zipfile.ZipFile(path) as z:
        xml = z.read("xl/worksheets/sheet1.xml").decode()
    assert "nan" not in xml and "inf" not in xml
    rows = {r["id"]: r["v"] for r in read_xlsx(spark, path).collect()}
    assert rows[1] is None and rows[2] is None and rows[3] is None and rows[4] == 2.5


def test_xlsx_sheet_resolved_by_workbook_order(spark, tmp_path):
    """An externally-produced workbook whose zip lists sheet10.xml before
    sheet2.xml must still resolve 'first sheet' via workbook.xml."""
    import zipfile

    src = str(tmp_path / "one.xlsx")
    write_xlsx(spark.createDataFrame([(1, "right")], "id long, tag string"), src)
    dst = str(tmp_path / "multi.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(dst, "w") as zout:
        sheet_xml = zin.read("xl/worksheets/sheet1.xml")
        wrong = sheet_xml.replace(b">right<", b">WRONG<")
        # decoy part written FIRST so a namelist-order reader picks it;
        # workbook.xml's first sheet (rId1) is rewired to sheet2.xml
        zout.writestr("xl/worksheets/sheet10.xml", wrong)
        for n in zin.namelist():
            data = zin.read(n)
            if n == "xl/_rels/workbook.xml.rels":
                data = data.replace(b"worksheets/sheet1.xml", b"worksheets/sheet2.xml")
            if n == "xl/worksheets/sheet1.xml":
                n = "xl/worksheets/sheet2.xml"
            zout.writestr(n, data)
    back = read_xlsx(spark, dst)
    assert [r["tag"] for r in back.collect()] == ["right"]


def test_admin_helpers(spark):
    df = spark.createDataFrame(
        [("  new york ",), ("UNKNOWN",), ("sÃo paulo",)], "admin1 string"
    )
    out = [r[0] for r in df.select(titlecase_admin_expr("admin1")).collect()]
    assert out[0] == "New York" and out[1] is None

    c = spark.createDataFrame(
        [("Kenya",), ("united KINGDOM ",), ("USA",), ("Atlantis",)], "country string"
    )
    got = [r[0] for r in c.select(iso3_expr("country")).collect()]
    assert got == ["KEN", "GBR", "USA", None]
    register_country("Atlantis", "ATL")
    got2 = [r[0] for r in c.select(iso3_expr("country")).collect()]
    assert got2[-1] == "ATL"


def test_detect_coords_and_coverage(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 20.0, None), (2, 11.0, None, "x")],
        "id long, school_latitude double, school_longitude double, note string",
    )
    assert detect_coord_columns(df) == ("school_latitude", "school_longitude")
    assert detect_coord_columns(df.select("id", "note")) is None
    cov = {r["column"]: r for r in coverage_stats(df).collect()}
    assert cov["school_longitude"]["non_null"] == 1
    assert cov["school_longitude"]["coverage"] == 0.5
    assert cov["id"]["coverage"] == 1.0


# ----------------------------------------------------- CRS transforms (r4)
def test_crs_transform_roundtrips():
    import numpy as np

    from giga_spatial_spark.functions.crs import transform_points

    rng = np.random.RandomState(9)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-84, 84, 500)
    for crs in ("EPSG:3857", "ESRI:54009"):
        x, y = transform_points(lon, lat, "EPSG:4326", crs)
        lon2, lat2 = transform_points(x, y, crs, "EPSG:4326")
        assert np.max(np.abs(lon2 - lon)) < 1e-8, crs
        assert np.max(np.abs(lat2 - lat)) < 1e-8, crs
    # UTM round-trip within a zone's comfort band
    lonz = rng.uniform(6.5, 11.5, 300)  # zone 32
    latz = rng.uniform(-75, 75, 300)
    e, n = transform_points(lonz, latz, "EPSG:4326", "EPSG:32632")
    lon3, lat3 = transform_points(e, n, "EPSG:32632", "EPSG:4326")
    assert np.max(np.abs(lon3 - lonz)) < 1e-7
    assert np.max(np.abs(lat3 - latz)) < 1e-7
    # cross-projection composition: 3857 → mollweide → 4326
    x, y = transform_points(lon, lat, "EPSG:4326", "EPSG:3857")
    mx, my = transform_points(x, y, "EPSG:3857", "ESRI:54009")
    lon4, lat4 = transform_points(mx, my, "ESRI:54009", "EPSG:4326")
    assert np.max(np.abs(lon4 - lon)) < 1e-8
    # web mercator known point: (180, 0) → (pi*R, 0)
    x5, y5 = transform_points([180.0], [0.0], "EPSG:4326", "EPSG:3857")
    assert abs(x5[0] - 3.141592653589793 * 6378137.0) < 1e-3 and abs(y5[0]) < 1e-9
    import pytest as _p

    # EPSG:2154 gained a from-scratch leg (functions/lcc) in round 5 —
    # it must now round-trip rather than raise
    fx, fy = transform_points([2.3522], [48.8566], "EPSG:4326", "EPSG:2154")
    lo6, la6 = transform_points(fx, fy, "EPSG:2154", "EPSG:4326")
    assert abs(lo6[0] - 2.3522) < 1e-9 and abs(la6[0] - 48.8566) < 1e-9
    # the message lists the codes the table holds
    with _p.raises(ValueError, match="unsupported crs 'EPSG:27700'.*EPSG:3035"):
        transform_points([0.0], [0.0], "EPSG:27700", "EPSG:4326")


def test_reproject_rings_dataframe(spark):
    import numpy as np

    from giga_spatial_spark.functions.crs import reproject_rings, transform_points

    rows = [
        (1, "Polygon", [[[10.0, 45.0], [11.0, 45.0], [11.0, 46.0]]], {"a": "x"}),
        (2, "Point", [[[12.5, -33.25]]], {}),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "feature_id long, geom_type string, "
        "rings array<array<array<double>>>, properties map<string,string>",
    )
    out = {
        r["feature_id"]: r
        for r in reproject_rings(df, "EPSG:4326", "EPSG:3857").collect()
    }
    x, y = transform_points([10.0], [45.0], "EPSG:4326", "EPSG:3857")
    assert abs(out[1]["rings"][0][0][0] - x[0]) < 1e-6
    assert abs(out[1]["rings"][0][0][1] - y[0]) < 1e-6
    assert out[3]["rings"] is None  # null geometry survives
    assert out[1]["properties"]["a"] == "x"  # other columns untouched
    # round-trip back
    back = {
        r["feature_id"]: r
        for r in reproject_rings(
            reproject_rings(df, "EPSG:4326", "ESRI:54009"),
            "ESRI:54009", "EPSG:4326",
        ).collect()
    }
    assert abs(back[2]["rings"][0][0][0] - 12.5) < 1e-8
    assert abs(back[2]["rings"][0][0][1] + 33.25) < 1e-8


def test_iso3166_full_registry(spark):
    """Every UN member state resolves from at least one name; alpha-2
    entries resolve; the seed aliases never conflict with the standard
    table; accented official spellings resolve."""
    from giga_spatial_spark import iso3166
    from giga_spatial_spark.operators.normalize import (
        ISO3_REGISTRY, _ISO3_SEED, iso3_expr,
    )

    resolved = set(ISO3_REGISTRY.values())
    for a3 in iso3166.UN_MEMBER_ALPHA3:
        assert a3 in resolved, f"UN member {a3} unresolvable"
    full = iso3166.full_registry()
    for k, v in _ISO3_SEED.items():
        assert full.get(k, v) == v, f"seed alias {k} conflicts with standard"
    assert len(iso3166.ALPHA2_TO_ALPHA3) == 249  # official assigned count
    df = spark.createDataFrame(
        [("Côte d'Ivoire",), ("ng",), ("Kiribati",), ("nowhere",)],
        "country string",
    )
    got = [r[0] for r in df.select(iso3_expr("country")).collect()]
    assert got == ["CIV", "NGA", "KIR", None]


def test_with_iso3_matches_expr(spark):
    """The broadcast-dim join path (with_iso3, the scale path) agrees with
    the literal create_map expression on every registry key, every code
    passthrough (any case), junk, and NULL sentinels."""
    from giga_spatial_spark.operators.normalize import (
        ISO3_REGISTRY, iso3_expr, with_iso3,
    )

    names = sorted(ISO3_REGISTRY)[::7]  # every 7th registry key
    names += ["USA", "usa", "Alb", "XXX", "n/a", "  Kenya ", "nowhere", None]
    df = spark.createDataFrame([(n,) for n in names], "country string")
    key = lambda r: (r[0] or "", r[1] or "")  # noqa: E731
    via_expr = sorted(
        (
            (r["country"], r["iso3"])
            for r in df.select(
                "country", iso3_expr("country").alias("iso3")
            ).collect()
        ),
        key=key,
    )
    via_join = sorted(
        (
            (r["country"], r["iso3"])
            for r in with_iso3(df, "country").select("country", "iso3").collect()
        ),
        key=key,
    )
    assert via_join == via_expr
    # join preserves row count (dim keys are unique — no fan-out)
    assert with_iso3(df, "country").count() == len(names)


def test_geom_stats_matches_numpy(spark):
    """q_geom_stats' native window/groupBy shoelace must agree with the
    driver-side numpy implementations (geo.polygon_area_m2,
    geometry.polygon_centroid) — a third, independently-coded path."""
    import __spark_entry__ as E
    from giga_spatial_spark.functions.geo import polygon_area_m2
    from giga_spatial_spark.geometry import polygon_centroid

    got = {
        int(r["zone_id"]): r
        for r in E.q_geom_stats(spark, str(E)).collect()  # sf_dir unused
    }
    for zid, poly in E.ADMIN_POLYS.items():
        r = got[zid]
        assert r["area_km2"] == round(polygon_area_m2(poly) / 1e6)
        cx, cy = polygon_centroid(poly)
        assert r["centroid_lon_micro"] == round(cx * 1e6)
        assert r["centroid_lat_micro"] == round(cy * 1e6)


def test_utm_sql_twins_match_numpy():
    """The DuckDB Krüger forward/inverse twins (functions/utm_sql.py,
    hyperbolics expanded via exp/ln) must agree with the numpy kernels to
    well under the oracle rounding grain (mm forward, micro-deg inverse)
    over random global points in every UTM zone."""
    import duckdb
    import pandas as pd

    from giga_spatial_spark.functions import utm, utm_sql

    rng = np.random.RandomState(7)
    lon = rng.uniform(-179, 179, 2000)
    lat = rng.uniform(-80, 80, 2000)
    zone = np.array([utm.utm_zone(x) for x in lon])
    e, n = np.empty_like(lon), np.empty_like(lat)
    for z in np.unique(zone):
        m = zone == z
        e[m], n[m] = utm.utm_forward(lon[m], lat[m], int(z))

    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
    fwd, ffin = utm_sql.forward_ctes("src")
    inv, ifin = utm_sql.inverse_ctes(ffin, south="(lat < 0)")
    q = (
        f"WITH src AS (SELECT lon, lat, {utm_sql.zone_cm_sql('lon')} AS cm "
        f"FROM pts), {fwd}, {inv} "
        f"SELECT easting, northing, lon_out, lat_out FROM {ifin}"
    )
    df = con.execute(q).fetchdf()
    assert np.abs(df["easting"].to_numpy() - e).max() < 1e-6   # meters
    assert np.abs(df["northing"].to_numpy() - n).max() < 1e-6
    assert np.abs(df["lon_out"].to_numpy() - lon).max() < 1e-8  # degrees
    assert np.abs(df["lat_out"].to_numpy() - lat).max() < 1e-8
