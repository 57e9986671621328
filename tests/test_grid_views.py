"""The three grid view generators (H3, Mercator, S2) against a numpy brute
force: the exact view schema after each enrichment step, per-cell counts
and means, the reference fill rules on empty cells (0 for counts, NULL for
every other stat), densities and the feature table."""

import numpy as np
import pytest

from giga_spatial_spark import cells, cells_h3, cells_s2
from giga_spatial_spark.views import (
    HexViewGenerator, MercatorViewGenerator, S2ViewGenerator,
)

BOUNDARY = np.array([[10.0, 5.0], [20.0, 5.0], [20.0, 13.0], [10.0, 13.0]])


def _hex_ids(lon, lat):
    return cells_h3.latlng_to_cell(lat, lon, 3)


def _tile_ids(lon, lat):
    return cells.pack_tile(*cells.tile_xy_np(lon, lat, 7))


def _s2_ids(lon, lat):
    return cells_s2.cell_id(lat, lon, 6)


# name -> (constructor, cell column, zone-dim columns, numpy cell ids, n zones)
GRIDS = {
    "hex": (
        lambda spark: HexViewGenerator(spark, BOUNDARY, resolution=3),
        "h3_cell", [("h3_cell", "bigint"), ("center_lon", "double"),
                    ("center_lat", "double")],
        _hex_ids, lambda gen: len(gen.cells),
    ),
    "mercator": (
        lambda spark: MercatorViewGenerator(spark, BOUNDARY, zoom=7),
        "tile", [("tile", "bigint"), ("tile_x", "bigint"), ("tile_y", "bigint"),
                 ("center_lon", "double"), ("center_lat", "double"),
                 ("area_m2", "double")],
        _tile_ids, lambda gen: len(gen.tiles),
    ),
    "s2": (
        lambda spark: S2ViewGenerator(spark, BOUNDARY, level=6),
        "s2_cell", [("s2_cell", "bigint"), ("center_lon", "double"),
                    ("center_lat", "double")],
        _s2_ids, lambda gen: len(gen.cells),
    ),
}


def _schema(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def _brute(ids, keep, values):
    """Per-cell (count, sum of values) over the rows whose cell is in `keep`."""
    out = {}
    for cid, val in zip(ids.tolist(), values.tolist()):
        if cid in keep:
            n, s = out.get(cid, (0, 0.0))
            out[cid] = (n + 1, s + val)
    return out


@pytest.mark.parametrize("grid", sorted(GRIDS))
def test_grid_view_generator(spark, grid):
    build, key, dim_cols, ids_of, n_zones = GRIDS[grid]
    rng = np.random.default_rng(7)
    # points cover the west half of the boundary and spill past it, so the
    # view has populated cells, empty cells, and out-of-view points
    lon, lat = rng.uniform(8.0, 15.0, 600), rng.uniform(3.0, 15.0, 600)
    v = rng.integers(0, 100, 600).astype(np.float64)
    pts = spark.createDataFrame(
        [(i, float(a), float(b), float(c)) for i, (a, b, c) in enumerate(zip(lon, lat, v))],
        "pid long, lon double, lat double, v double",
    )
    plon, plat = rng.uniform(8.0, 15.0, 400), rng.uniform(3.0, 15.0, 400)
    pval = rng.integers(1, 50, 400).astype(np.float64)
    nodata = rng.random(400) < 0.2
    pix = spark.createDataFrame(
        [(float(a), float(b), None if m else float(c))
         for a, b, c, m in zip(plon, plat, pval, nodata)],
        "lon double, lat double, value double",
    )

    gen = build(spark)
    dim = [(n, t, True) for n, t in dim_cols]
    assert _schema(gen.zones_dim) == dim
    assert gen.zones_dim.count() == n_zones(gen) > 0

    gen.map_points(pts).map_points(pts, aggregation="mean", value_columns="v",
                                   suffix="_m")
    after_points = dim + [("point_count", "bigint", False), ("v_m", "double", True)]
    assert _schema(gen.to_dataframe()) == after_points

    gen.with_density("point_count")
    after_density = after_points + [("point_count_per_km2", "double", True)]
    assert _schema(gen.to_dataframe()) == after_density

    gen.map_rasters(pix, stats=("count",))
    after_one = after_density + [("value_count", "bigint", False)]
    assert _schema(gen.to_dataframe()) == after_one

    gen.map_rasters(pix.withColumnRenamed("value", "elev"),
                    stats=("count", "mean"), value_col="elev")
    after_two = after_one + [("elev_count", "bigint", False),
                             ("elev_mean", "double", True)]
    assert _schema(gen.to_dataframe()) == after_two

    view = gen.to_dataframe().toPandas()
    # column-first access: a row Series would coerce the int64 ids to float
    zone_ids = view[key].to_numpy(np.int64).tolist()
    keep = set(zone_ids)
    assert len(keep) == len(zone_ids) == n_zones(gen)
    pts_by = _brute(ids_of(lon, lat), keep, v)
    pix_by = _brute(ids_of(plon[~nodata], plat[~nodata]), keep, pval[~nodata])
    assert 0 < len(pts_by) < len(keep) and 0 < len(pix_by) < len(keep)

    for col in ("point_count", "value_count", "elev_count"):
        assert view[col].notna().all(), col
    for i, cid in enumerate(zone_ids):
        n, s = pts_by.get(cid, (0, 0.0))
        assert view["point_count"].iloc[i] == n
        if n:
            assert view["v_m"].iloc[i] == pytest.approx(s / n, rel=1e-12)
        else:
            assert np.isnan(view["v_m"].iloc[i])
        n, s = pix_by.get(cid, (0, 0.0))
        assert view["value_count"].iloc[i] == view["elev_count"].iloc[i] == n
        if n:
            assert view["elev_mean"].iloc[i] == pytest.approx(s / n, rel=1e-12)
        else:
            assert np.isnan(view["elev_mean"].iloc[i])

    count = view["point_count"].to_numpy(np.float64)
    density = view["point_count_per_km2"].to_numpy(np.float64)
    assert (density[count == 0] == 0).all() and (density[count > 0] > 0).all()
    if grid == "hex":
        area = cells_h3.cell_area_km2(np.array(zone_ids, dtype=np.int64))
        assert np.array_equal(density, count / area)
    if grid == "mercator":
        assert np.array_equal(density, count / (view["area_m2"].to_numpy() / 1e6))

    features = gen.to_feature_table()
    assert [f.name for f in features.schema.fields] == ["geom_type", "rings", "properties"]
    assert features.count() == n_zones(gen)
