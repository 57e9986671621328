"""View-generator API layer — the reference's user-facing surface.

Mirrors PoiViewGenerator (gigaspatial/generators/poi.py) and
ZonalViewGenerator (generators/zonal/base.py): a view accumulates
enrichment columns keyed by poi_id / zone_id via left joins
(_update_view poi.py:244-285, add_variable_to_view zonal/base.py:148-201),
with map_* methods delegating to engine operators and save_view writing
parquet. A user of the reference can port call-sites 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEO_FORMATS = ("geojson", "geojsonl", "gpkg", "geoparquet")


def _props_expr(df: DataFrame, exclude: tuple[str, ...]):
    attr_cols = [c for c in df.columns if c not in exclude]
    return F.map_from_arrays(
        F.array(*[F.lit(c) for c in attr_cols]),
        F.array(*[F.col(c).cast("string") for c in attr_cols]),
    ).alias("properties")


def _restrict_to_dim(tagged: DataFrame, zones_dim: DataFrame,
                     key: str) -> DataFrame:
    """Left-semi the cell-tagged point side against the view's own cell dim
    BEFORE aggregating: the broadcast of the post-groupBy aggregate is then
    bounded by the view's zone count (dim-sized by construction), not by
    every distinct cell a global corpus touches — at high zoom/level the
    latter is unbounded and would blow the broadcast."""
    return tagged.join(
        F.broadcast(zones_dim.select(key)), key, "left_semi"
    )


def _save_view(view: DataFrame, path: str, fmt: str, to_features) -> str:
    """Shared save_view tail: geo formats route the generator's feature
    table through write_dataset's GEO_WRITERS branch (reference poi.py
    to_geodataframe → writers.py GEO_WRITERS); tabular formats write the
    raw view directly."""
    if fmt in GEO_FORMATS:
        from .sources.readers import write_dataset

        return write_dataset(to_features(), path, fmt=fmt)
    view.write.mode("overwrite").format(fmt).save(path)
    return path


class PoiViewGenerator:
    """points: DataFrame with (poi_id, lon, lat). Reference poi.py:63-232
    normalizes inputs and checks duplicate ids; we do the same."""

    def __init__(self, points: DataFrame, poi_id: str = "poi_id",
                 lon: str = "lon", lat: str = "lat",
                 check_duplicates: bool = False):
        # duplicate-id validation is opt-in: running a full groupBy job in
        # the constructor made every view pay a scan before doing any work
        if check_duplicates:
            dup = points.groupBy(poi_id).count().where(F.col("count") > 1)
            if not dup.isEmpty():
                raise ValueError("duplicate poi_id values in input points")
        self.poi_id, self.lon, self.lat = poi_id, lon, lat
        self.points = points
        self._view = points

    def _update_view(self, new_cols: DataFrame) -> None:
        """Left-join enrichment keyed by poi_id (reference poi.py:244-285)."""
        self._view = self._view.join(new_cols, self.poi_id, "left")

    def map_nearest_points(self, facilities: DataFrame, prefix: str = "nearest",
                           fac_id: str = "facility_id",
                           flon: str = "flon", flat: str = "flat") -> "PoiViewGenerator":
        """Reference map_nearest_points (poi.py:287-391): nearest facility id
        + haversine distance per POI. Dispatches on the facility count:
        dim-sized layers take the broadcast-argmax kernel, large layers the
        exact tile-grid kNN (one lazy plan, no driver collect)."""
        from .operators.knn import (
            BROADCAST_FACILITY_LIMIT, knn_broadcast, knn_grid,
        )

        n_fac = facilities.limit(BROADCAST_FACILITY_LIMIT + 1).count()
        kernel = knn_broadcast if n_fac <= BROADCAST_FACILITY_LIMIT else knn_grid
        out = kernel(
            self.points.select(self.poi_id, self.lon, self.lat),
            facilities, point_id=self.poi_id, lon=self.lon, lat=self.lat,
            fac_id=fac_id, flon=flon, flat=flat,
        ).select(
            self.poi_id,
            F.col("nearest_facility_id").alias(f"{prefix}_id"),
            F.col("nearest_dist_m").alias(f"{prefix}_dist_m"),
        )
        self._update_view(out)
        return self

    def map_zonal_stats(self, polys, column_name: str = "zone_id",
                        zoom: int = 6) -> "PoiViewGenerator":
        """PIP-tag each POI with its admin zone (multi-match resolved by
        lowest zone id for view uniqueness)."""
        from .operators.pip_join import pip_join_rtree

        tags = (
            pip_join_rtree(
                self.points.select(self.poi_id, self.lon, self.lat),
                polys, lon=self.lon, lat=self.lat, zoom=zoom,
            )
            .groupBy(self.poi_id)
            .agg(F.min("zone_id").alias(column_name))
        )
        self._update_view(tags)
        return self

    def chain_operations(self, ops: list) -> "PoiViewGenerator":
        """Fluent pipeline (reference poi.py:1084-1110): each op is a
        callable view_gen -> view_gen."""
        gen = self
        for op in ops:
            gen = op(gen)
        return gen

    def to_dataframe(self) -> DataFrame:
        return self._view

    def to_feature_table(self) -> DataFrame:
        """Point view → normalized (geom_type, rings, properties) — pure
        column expressions, so geo export stays distributed and codegen'd."""
        return self._view.select(
            F.lit("Point").alias("geom_type"),
            F.array(
                F.array(
                    F.array(
                        F.col(self.lon).cast("double"),
                        F.col(self.lat).cast("double"),
                    )
                )
            ).alias("rings"),
            _props_expr(self._view, (self.lon, self.lat)),
        )

    def save_view(self, path: str, fmt: str = "parquet") -> str:
        return _save_view(self._view, path, fmt, self.to_feature_table)


class HexViewGenerator:
    """Geodesic H3 zonal view (reference H3ViewGenerator, generators/
    zonal/h3.py:32-89): zones are the TRUE H3 cells (cells_h3 — the
    from-scratch public-spec implementation, ids joinable against
    externally H3-indexed data) polyfilling a boundary polygon at a
    resolution; enrichment methods aggregate points/rasters per cell.

    The reference call shape
        H3ViewGenerator(source=boundary, resolution=7).map_wp_pop(...)
    ports to
        HexViewGenerator(spark, boundary, resolution=7).map_points(...)
    """

    def __init__(self, spark, boundary, resolution: int = 5,
                 contain_mode: str = "center"):
        from . import cells_h3

        self.spark = spark
        self.resolution = resolution
        self.cells = cells_h3.polyfill(boundary, resolution, mode=contain_mode)
        lat_c, lon_c = cells_h3.cell_to_latlng(self.cells)
        self.zones_dim = spark.createDataFrame(
            [
                (int(c), float(lo), float(la))
                for c, lo, la in zip(self.cells, lon_c, lat_c)
            ],
            "h3_cell long, center_lon double, center_lat double",
        )
        self._view = self.zones_dim

    def _assign(self, points: DataFrame, lon: str, lat: str) -> DataFrame:
        from . import cells_h3

        return cells_h3.assign_cells_df(
            points, self.resolution, lon=lon, lat=lat
        )

    def map_points(self, points: DataFrame, aggregation: str = "count",
                   value_columns=None, lon: str = "lon", lat: str = "lat",
                   suffix: str = "") -> "HexViewGenerator":
        """Per-cell point aggregation with the reference's fill rules
        (0 for counts, NULL otherwise) — Arrow-batched H3 assignment +
        left-semi restriction to the view's cells."""
        from .operators.zonal import agg_exprs

        exprs, meta = agg_exprs(aggregation, value_columns, suffix)
        tagged = _restrict_to_dim(
            self._assign(points, lon, lat), self.zones_dim, "h3_cell"
        )
        agged = tagged.groupBy("h3_cell").agg(*exprs)
        out = self._view.join(F.broadcast(agged), "h3_cell", "left")
        for name, fn in meta:
            if fn == "count":
                out = out.withColumn(
                    name, F.coalesce(F.col(name), F.lit(0)).cast("long")
                )
        self._view = out
        return self

    def map_rasters(self, pixels: DataFrame, stats=("count", "mean"),
                    value_col: str = "value") -> "HexViewGenerator":
        """Per-cell raster stats: pixels keyed by H3 cell, nodata dropped
        first (reference map_wp_pop semantics)."""
        from .operators.zonal import _AGG_FNS

        valid = _restrict_to_dim(
            self._assign(
                pixels.where(F.col(value_col).isNotNull()), "lon", "lat"
            ),
            self.zones_dim, "h3_cell",
        )
        exprs = [_AGG_FNS[s](F.col(value_col)).alias(f"{value_col}_{s}") for s in stats]
        agged = valid.groupBy("h3_cell").agg(*exprs)
        out = self._view.join(F.broadcast(agged), "h3_cell", "left")
        if "count" in stats:
            out = out.withColumn(
                f"{value_col}_count",
                F.coalesce(F.col(f"{value_col}_count"), F.lit(0)).cast("long"),
            )
        self._view = out
        return self

    def with_density(self, count_col: str, out_col: str | None = None
                     ) -> "HexViewGenerator":
        """Per-km² density from each cell's EXACT spherical area
        (cells_h3.cell_area_km2 — boundary polygon spherical excess;
        reference exposes true H3 cell areas, grid/h3.py:257-273). The
        area table is dim-sized and broadcast."""
        from . import cells_h3

        areas = self.spark.createDataFrame(
            [
                (int(c), float(a))
                for c, a in zip(
                    self.cells, cells_h3.cell_area_km2(self.cells)
                )
            ],
            "h3_cell long, __area_km2 double",
        )
        out_col = out_col or f"{count_col}_per_km2"
        self._view = (
            self._view.join(F.broadcast(areas), "h3_cell", "left")
            .withColumn(out_col, F.col(count_col) / F.col("__area_km2"))
            .drop("__area_km2")
        )
        return self

    def to_dataframe(self) -> DataFrame:
        return self._view

    def to_feature_table(self) -> DataFrame:
        """H3 view → Polygon features: each cell's exact boundary
        (cells_h3.cell_to_boundary — substrate corners + distortion
        vertices; reference cells_to_geo, grid/h3.py:326-335) joined onto
        the enriched view. The boundary table is dim-sized (the view's
        own cells), so the join broadcasts."""
        from . import cells_h3

        rings = self.spark.createDataFrame(
            [
                (
                    int(c),
                    [[[float(ln), float(la)]
                      for la, ln in cells_h3.cell_to_boundary(int(c))]],
                )
                for c in self.cells
            ],
            "h3_cell long, rings array<array<array<double>>>",
        )
        joined = self._view.join(F.broadcast(rings), "h3_cell")
        return joined.select(
            F.lit("Polygon").alias("geom_type"),
            "rings",
            _props_expr(self._view, ("center_lon", "center_lat")),
        )

    def save_view(self, path: str, fmt: str = "parquet") -> str:
        return _save_view(self._view, path, fmt, self.to_feature_table)


# the reference's class name, 1:1
H3ViewGenerator = HexViewGenerator


class ZonalViewGenerator:
    """zones: DataFrame with zone_id (+ any zone attrs). Reference
    zonal/base.py:104-133."""

    def __init__(self, zones_dim: DataFrame, polys, zone_key: str = "zone_id"):
        self.zones_dim = zones_dim
        self.polys = polys
        self.zone_key = zone_key
        self._view = zones_dim

    def add_variable_to_view(self, agged: DataFrame, fill_zero_cols=()) -> "ZonalViewGenerator":
        """Reference add_variable_to_view (zonal/base.py:148-201): left join
        keyed by zone, optional 0-fill for count-like columns."""
        out = self._view.join(agged, self.zone_key, "left")
        for c in fill_zero_cols:
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("long"))
        self._view = out
        return self

    def map_points(self, points: DataFrame, aggregation="count",
                   value_columns=None, zoom: int = 6) -> "ZonalViewGenerator":
        """Reference map_points → aggregate_points_to_zones semantics
        (fill 0 for counts, NULL otherwise)."""
        from .operators.zonal import agg_exprs, aggregate_points_to_zones

        out = aggregate_points_to_zones(
            points, self.polys, self.zones_dim, aggregation, value_columns,
            zoom=zoom,
        )
        self._view = self._view.join(
            out.drop(*[c for c in self.zones_dim.columns if c != self.zone_key]),
            self.zone_key,
            "left",
        )
        return self

    def map_rasters(self, pixels: DataFrame, stats=("count", "mean"),
                    zoom: int = 6) -> "ZonalViewGenerator":
        """Reference map_rasters → zonal raster stats."""
        from .operators.raster import zonal_raster_stats

        agged = zonal_raster_stats(pixels, self.polys, stats=list(stats), zoom=zoom)
        return self.add_variable_to_view(
            agged, fill_zero_cols=["value_count"] if "count" in stats else ()
        )

    def to_dataframe(self) -> DataFrame:
        return self._view

    def to_feature_table(self) -> DataFrame:
        """Zonal view → Polygon features from the generator's own polygon
        dict (dim-sized by construction), broadcast-joined to the view."""
        spark = self._view.sparkSession
        rings = spark.createDataFrame(
            [
                (zid, [[[float(x), float(y)] for x, y in poly]])
                for zid, poly in self.polys.items()
            ],
            f"{self.zone_key} int, rings array<array<array<double>>>",
        )
        joined = self._view.join(F.broadcast(rings), self.zone_key)
        return joined.select(
            F.lit("Polygon").alias("geom_type"), "rings", _props_expr(self._view, ())
        )

    def save_view(self, path: str, fmt: str = "parquet") -> str:
        return _save_view(self._view, path, fmt, self.to_feature_table)


class MercatorViewGenerator:
    """Web-mercator tile zonal view (reference MercatorViewGenerator,
    generators/zonal/mercator.py): zones are the tiles polyfilling a
    boundary polygon at a zoom; enrichment aggregates points/rasters per
    tile. The reference call shape
        MercatorViewGenerator(source=boundary, zoom=9).map_points(...)
    ports to
        MercatorViewGenerator(spark, boundary, zoom=9).map_points(...)
    Tile assignment is pure native column math (cells.tile_id — codegen,
    no UDF), so the big point side never leaves the JVM."""

    def __init__(self, spark, boundary, zoom: int = 7,
                 contain_mode: str = "center"):
        from . import cells

        self.spark = spark
        self.zoom = zoom
        self.tiles = cells.tile_polyfill(boundary, zoom, mode=contain_mode)
        rows = []
        for x, y in self.tiles:
            lon_c, lat_c = cells.tile_center(x, y, zoom)
            rows.append(
                (
                    int(cells.pack_tile(x, y)), int(x), int(y),
                    float(lon_c), float(lat_c),
                    float(cells.tile_area_m2(x, y, zoom)),
                )
            )
        self.zones_dim = spark.createDataFrame(
            rows,
            "tile bigint, tile_x bigint, tile_y bigint, "
            "center_lon double, center_lat double, area_m2 double",
        )
        self._view = self.zones_dim

    def _cell_col(self, lon, lat):
        from . import cells

        return cells.tile_id(lon, lat, self.zoom)

    def map_points(self, points: DataFrame, aggregation: str = "count",
                   value_columns=None, lon: str = "lon", lat: str = "lat",
                   suffix: str = "") -> "MercatorViewGenerator":
        """Per-tile point aggregation, reference fill rules (0 for counts,
        NULL otherwise)."""
        from .operators.zonal import agg_exprs

        exprs, meta = agg_exprs(aggregation, value_columns, suffix)
        tagged = _restrict_to_dim(
            points.withColumn("tile", self._cell_col(F.col(lon), F.col(lat))),
            self.zones_dim, "tile",
        )
        agged = tagged.groupBy("tile").agg(*exprs)
        out = self._view.join(F.broadcast(agged), "tile", "left")
        for name, fn in meta:
            if fn == "count":
                out = out.withColumn(
                    name, F.coalesce(F.col(name), F.lit(0)).cast("long")
                )
        self._view = out
        return self

    def map_rasters(self, pixels: DataFrame, stats=("count", "mean"),
                    value_col: str = "value") -> "MercatorViewGenerator":
        from .operators.zonal import _AGG_FNS

        valid = _restrict_to_dim(
            pixels.where(F.col(value_col).isNotNull()).withColumn(
                "tile", self._cell_col(F.col("lon"), F.col("lat"))
            ),
            self.zones_dim, "tile",
        )
        exprs = [_AGG_FNS[s](F.col(value_col)).alias(f"{value_col}_{s}") for s in stats]
        agged = valid.groupBy("tile").agg(*exprs)
        out = self._view.join(F.broadcast(agged), "tile", "left")
        if "count" in stats:
            out = out.withColumn(
                f"{value_col}_count",
                F.coalesce(F.col(f"{value_col}_count"), F.lit(0)).cast("long"),
            )
        self._view = out
        return self

    def with_density(self, count_col: str, out_col: str | None = None
                     ) -> "MercatorViewGenerator":
        """Per-km² density from the EXACT spherical tile area
        (R²·Δλ·Δsinφ — mercator tiles shrink with |latitude|, so the naive
        constant-area-per-zoom assumption would bias densities)."""
        out_col = out_col or f"{count_col}_per_km2"
        self._view = self._view.withColumn(
            out_col, F.col(count_col) / (F.col("area_m2") / F.lit(1e6))
        )
        return self

    def to_dataframe(self) -> DataFrame:
        return self._view

    def to_feature_table(self) -> DataFrame:
        """Tile view → Polygon features (tile lon/lat boxes)."""
        from . import cells

        rings = self.spark.createDataFrame(
            [
                (
                    int(cells.pack_tile(x, y)),
                    [[[bx[0], bx[1]], [bx[2], bx[1]], [bx[2], bx[3]], [bx[0], bx[3]]]],
                )
                for x, y in self.tiles
                for bx in [cells.tile_bounds(x, y, self.zoom)]
            ],
            "tile bigint, rings array<array<array<double>>>",
        )
        joined = self._view.join(F.broadcast(rings), "tile")
        return joined.select(
            F.lit("Polygon").alias("geom_type"),
            "rings",
            _props_expr(self._view, ("center_lon", "center_lat", "area_m2")),
        )

    def save_view(self, path: str, fmt: str = "parquet") -> str:
        return _save_view(self._view, path, fmt, self.to_feature_table)


class S2ViewGenerator:
    """S2-cell zonal view (reference S2ViewGenerator, generators/zonal/
    s2.py): zones are the S2 cells polyfilling a boundary polygon at a
    level. Cell assignment for the point side runs through the Arrow-batched
    Hilbert kernel (cells_s2.assign_cells_df); the cell dim (polyfill) is
    driver-computed like the reference's RegionCoverer."""

    def __init__(self, spark, boundary, level: int = 8,
                 contain_mode: str = "center"):
        from . import cells_s2

        self.spark = spark
        self.level = level
        self.cells = cells_s2.polyfill(boundary, level, mode=contain_mode)
        lat_c, lon_c = cells_s2.cell_centers_latlon(self.cells, level)
        rows = list(zip(self.cells.tolist(), lon_c.tolist(), lat_c.tolist()))
        self.zones_dim = spark.createDataFrame(
            rows, "s2_cell long, center_lon double, center_lat double"
        )
        self._view = self.zones_dim

    def _assign(self, points: DataFrame, lon: str, lat: str) -> DataFrame:
        from . import cells_s2

        return cells_s2.assign_cells_df(points, self.level, lon=lon, lat=lat)

    def map_points(self, points: DataFrame, aggregation: str = "count",
                   value_columns=None, lon: str = "lon", lat: str = "lat",
                   suffix: str = "") -> "S2ViewGenerator":
        from .operators.zonal import agg_exprs

        exprs, meta = agg_exprs(aggregation, value_columns, suffix)
        tagged = _restrict_to_dim(
            self._assign(points, lon, lat), self.zones_dim, "s2_cell"
        )
        agged = tagged.groupBy("s2_cell").agg(*exprs)
        out = self._view.join(F.broadcast(agged), "s2_cell", "left")
        for name, fn in meta:
            if fn == "count":
                out = out.withColumn(
                    name, F.coalesce(F.col(name), F.lit(0)).cast("long")
                )
        self._view = out
        return self

    def map_rasters(self, pixels: DataFrame, stats=("count", "mean"),
                    value_col: str = "value") -> "S2ViewGenerator":
        from .operators.zonal import _AGG_FNS

        valid = _restrict_to_dim(
            self._assign(pixels.where(F.col(value_col).isNotNull()), "lon", "lat"),
            self.zones_dim, "s2_cell",
        )
        exprs = [_AGG_FNS[s](F.col(value_col)).alias(f"{value_col}_{s}") for s in stats]
        agged = valid.groupBy("s2_cell").agg(*exprs)
        out = self._view.join(F.broadcast(agged), "s2_cell", "left")
        if "count" in stats:
            out = out.withColumn(
                f"{value_col}_count",
                F.coalesce(F.col(f"{value_col}_count"), F.lit(0)).cast("long"),
            )
        self._view = out
        return self

    def with_density(self, count_col: str, out_col: str | None = None
                     ) -> "S2ViewGenerator":
        """Per-km² density from each cell's exact quad area (UTM-exact
        planar area of the cell polygon via functions.geo — S2 cells at a
        level vary ~2× in ground area across a face)."""
        import numpy as np

        from . import cells_s2
        from .geometry import polygon_area

        # per-cell spherical quad area via the girard/planar hybrid: the
        # cell polygons are small at usable levels, so the equirectangular
        # planar area at the cell's own latitude is exact to ~1e-4
        rows = []
        for c in self.cells:
            poly = cells_s2.cell_polygon(int(c))
            lat_c = float(np.mean(poly[:, 1]))
            coslat = float(np.cos(np.radians(lat_c)))
            scaled = np.column_stack([poly[:, 0] * coslat, poly[:, 1]])
            deg2_m2 = (111_194.92664455873) ** 2  # (π·R/180)² — meters per degree²
            rows.append((int(c), polygon_area(scaled) * deg2_m2))
        areas = self.spark.createDataFrame(rows, "s2_cell long, __area_m2 double")
        out_col = out_col or f"{count_col}_per_km2"
        self._view = (
            self._view.join(F.broadcast(areas), "s2_cell", "left")
            .withColumn(out_col, F.col(count_col) / (F.col("__area_m2") / F.lit(1e6)))
            .drop("__area_m2")
        )
        return self

    def to_dataframe(self) -> DataFrame:
        return self._view

    def to_feature_table(self) -> DataFrame:
        """S2 view → Polygon features (cell quads, CCW)."""
        from . import cells_s2

        rings = self.spark.createDataFrame(
            [
                (
                    int(c),
                    [[[float(x), float(y)] for x, y in cells_s2.cell_polygon(int(c))]],
                )
                for c in self.cells
            ],
            "s2_cell long, rings array<array<array<double>>>",
        )
        joined = self._view.join(F.broadcast(rings), "s2_cell")
        return joined.select(
            F.lit("Polygon").alias("geom_type"),
            "rings",
            _props_expr(self._view, ("center_lon", "center_lat")),
        )

    def save_view(self, path: str, fmt: str = "parquet") -> str:
        return _save_view(self._view, path, fmt, self.to_feature_table)
