"""View-generator API layer — the reference's user-facing surface.

A view accumulates enrichment columns keyed by poi_id / zone_id / cell
via left joins (_update_view poi.py:244-285, add_variable_to_view
zonal/base.py:148-201), with map_* methods delegating to engine operators
and save_view writing parquet or a geo format. A user of the reference
can port call-sites 1:1. The classes follow the reference's hierarchy
(gigaspatial/generators/):

  PoiViewGenerator        poi.py
  ZonalViewGenerator      zonal/base.py + zonal/geometry.py (polygon zones)
  _CellViewGenerator      zonal/base.py + zonal/geometry.py for a grid:
                          map_points / map_rasters / with_density /
                          to_feature_table, keyed by the subclass's cell column
  HexViewGenerator        zonal/h3.py (alias H3ViewGenerator)
  MercatorViewGenerator   zonal/mercator.py
  S2ViewGenerator         zonal/s2.py

Each grid subclass supplies only what differs (see _CellViewGenerator);
all generators share to_dataframe and save_view (_View).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_df

GEO_FORMATS = ("geojson", "geojsonl", "gpkg", "geoparquet")


def _props_expr(df: DataFrame, exclude: tuple[str, ...]):
    attr_cols = [c for c in df.columns if c not in exclude]
    return F.map_from_arrays(
        F.array(*[F.lit(c) for c in attr_cols]),
        F.array(*[F.col(c).cast("string") for c in attr_cols]),
    ).alias("properties")


def _polygon_features(view: DataFrame, key: str, key_type: str, rings,
                      exclude: tuple[str, ...]) -> DataFrame:
    """View → Polygon features: a dim-sized (key, rings) table broadcast-
    joined onto the view, the view's other columns packed as properties."""
    table = local_df(view.sparkSession, rings,
                     f"{key} {key_type}, rings array<array<array<double>>>")
    return view.join(F.broadcast(table), key).select(
        F.lit("Polygon").alias("geom_type"), "rings", _props_expr(view, exclude)
    )


class _View:
    """to_dataframe / save_view for every generator; each one keeps its
    view in `_view` and supplies its own to_feature_table."""

    def to_dataframe(self) -> DataFrame:
        return self._view

    def save_view(self, path: str, fmt: str = "parquet") -> str:
        """Geo formats route the feature table through write_dataset's
        GEO_WRITERS branch (reference poi.py to_geodataframe → writers.py
        GEO_WRITERS); tabular formats write the raw view directly."""
        if fmt in GEO_FORMATS:
            from .sources.readers import write_dataset

            return write_dataset(self.to_feature_table(), path, fmt=fmt)
        self._view.write.mode("overwrite").format(fmt).save(path)
        return path


class PoiViewGenerator(_View):
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


class ZonalViewGenerator(_View):
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
        from .operators.zonal import _attach_to_zones

        self._view = _attach_to_zones(self._view, agged, self.zone_key, fill_zero_cols)
        return self

    def map_points(self, points: DataFrame, aggregation="count",
                   value_columns=None, zoom: int = 6) -> "ZonalViewGenerator":
        """Reference map_points → aggregate_points_to_zones semantics
        (fill 0 for counts, NULL otherwise)."""
        from .operators.zonal import aggregate_points_to_zones

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

    def to_feature_table(self) -> DataFrame:
        """Zonal view → Polygon features from the generator's own polygon
        dict (dim-sized by construction), broadcast-joined to the view."""
        rings = [
            (zid, [[[float(x), float(y)] for x, y in poly]])
            for zid, poly in self.polys.items()
        ]
        return _polygon_features(self._view, self.zone_key, "int", rings, ())


class _CellViewGenerator(_View):
    """A grid zonal view: zones are the cells polyfilling a boundary
    polygon, and enrichment aggregates points and rasters per cell with
    the reference's fill rules (0 for counts, NULL otherwise). A subclass
    names its cell column (`key`), passes its dim rows to __init__ and
    supplies
      _tag(points, lon, lat)  the points with the cell column added;
      _area_km2()             (cell, area) rows to broadcast-join as
                              `__area`, or None when the dim already
                              carries the area, and the per-km² divisor;
      _rings()                (cell, polygon ring) pairs."""

    key: str
    # dim columns that the feature geometry replaces in the properties
    _geometry_cols = ("center_lon", "center_lat")

    def __init__(self, spark, rows, schema: str):
        self.spark = spark
        self.zones_dim = local_df(spark, rows, schema)
        self._view = self.zones_dim

    def _attach(self, tagged: DataFrame, exprs, meta) -> "_CellViewGenerator":
        from .operators.zonal import _attach_to_zones

        # left-semi the tagged side against the view's own cells BEFORE
        # aggregating: the broadcast aggregate is then bounded by the
        # view's zone count, not by every distinct cell a global corpus
        # touches (unbounded at high zoom/level)
        agged = (
            tagged.join(F.broadcast(self.zones_dim.select(self.key)), self.key,
                        "left_semi")
            .groupBy(self.key)
            .agg(*exprs)
        )
        self._view = _attach_to_zones(
            self._view, F.broadcast(agged), self.key,
            [name for name, fn in meta if fn == "count"],
        )
        return self

    def map_points(self, points: DataFrame, aggregation: str = "count",
                   value_columns=None, lon: str = "lon", lat: str = "lat",
                   suffix: str = "") -> "_CellViewGenerator":
        """Per-cell point aggregation, output names as
        operators.zonal.agg_exprs (reference map_points)."""
        from .operators.zonal import agg_exprs

        exprs, meta = agg_exprs(aggregation, value_columns, suffix)
        return self._attach(self._tag(points, lon, lat), exprs, meta)

    def map_rasters(self, pixels: DataFrame, stats=("count", "mean"),
                    value_col: str = "value") -> "_CellViewGenerator":
        """Per-cell raster stats over (lon, lat, value_col) pixels, nodata
        dropped first (reference map_wp_pop semantics). Columns are named
        f"{value_col}_{stat}", also for a single stat."""
        from .operators.zonal import _AGG_FNS

        names = [f"{value_col}_{s}" for s in stats]
        return self._attach(
            self._tag(pixels.where(F.col(value_col).isNotNull()), "lon", "lat"),
            [_AGG_FNS[s](F.col(value_col)).alias(n) for s, n in zip(stats, names)],
            list(zip(names, stats)),
        )

    def with_density(self, count_col: str, out_col: str | None = None
                     ) -> "_CellViewGenerator":
        """Per-km² density: count over each cell's area (_area_km2). A
        per-cell area table is dim-sized and broadcast."""
        areas, km2 = self._area_km2()
        view = self._view
        if areas is not None:
            table = local_df(self.spark, areas, f"{self.key} long, __area double")
            view = view.join(F.broadcast(table), self.key, "left")
        view = view.withColumn(out_col or f"{count_col}_per_km2", F.col(count_col) / km2)
        self._view = view if areas is None else view.drop("__area")
        return self

    def to_feature_table(self) -> DataFrame:
        """Cell view → Polygon features: each cell's ring (_rings) joined
        onto the enriched view; the ring table holds the view's own cells."""
        rings = [(int(c), [ring]) for c, ring in self._rings()]
        return _polygon_features(self._view, self.key, "long", rings,
                                 self._geometry_cols)


class HexViewGenerator(_CellViewGenerator):
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

    key = "h3_cell"

    def __init__(self, spark, boundary, resolution: int = 5,
                 contain_mode: str = "center"):
        from . import cells_h3

        self.resolution = resolution
        self.cells = cells_h3.polyfill(boundary, resolution, mode=contain_mode)
        lat_c, lon_c = cells_h3.cell_to_latlng(self.cells)
        super().__init__(
            spark, list(zip(self.cells.tolist(), lon_c.tolist(), lat_c.tolist())),
            "h3_cell long, center_lon double, center_lat double",
        )

    def _tag(self, points: DataFrame, lon: str, lat: str) -> DataFrame:
        """Arrow-batched H3 assignment."""
        from . import cells_h3

        return cells_h3.assign_cells_df(points, self.resolution, lon=lon, lat=lat)

    def _area_km2(self):
        """Each cell's EXACT spherical area (cells_h3.cell_area_km2 —
        boundary polygon spherical excess; reference exposes true H3 cell
        areas, grid/h3.py:257-273): density = count / area_km2."""
        from . import cells_h3

        areas = cells_h3.cell_area_km2(self.cells).tolist()
        return list(zip(self.cells.tolist(), areas)), F.col("__area")

    def _rings(self):
        """Each cell's exact boundary (cells_h3.cell_to_boundary —
        substrate corners + distortion vertices; reference cells_to_geo,
        grid/h3.py:326-335)."""
        from . import cells_h3

        for c in self.cells:
            yield c, [[float(ln), float(la)] for la, ln in cells_h3.cell_to_boundary(int(c))]


# the reference's class name, 1:1
H3ViewGenerator = HexViewGenerator


class MercatorViewGenerator(_CellViewGenerator):
    """Web-mercator tile zonal view (reference MercatorViewGenerator,
    generators/zonal/mercator.py): zones are the tiles polyfilling a
    boundary polygon at a zoom; enrichment aggregates points/rasters per
    tile. The reference call shape
        MercatorViewGenerator(source=boundary, zoom=9).map_points(...)
    ports to
        MercatorViewGenerator(spark, boundary, zoom=9).map_points(...)
    Tile assignment is pure native column math (cells.tile_id — codegen,
    no UDF), so the big point side never leaves the JVM."""

    key = "tile"
    _geometry_cols = ("center_lon", "center_lat", "area_m2")

    def __init__(self, spark, boundary, zoom: int = 7,
                 contain_mode: str = "center"):
        from . import cells

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
        super().__init__(
            spark, rows,
            "tile bigint, tile_x bigint, tile_y bigint, "
            "center_lon double, center_lat double, area_m2 double",
        )

    def _tag(self, points: DataFrame, lon: str, lat: str) -> DataFrame:
        from . import cells

        return points.withColumn("tile", cells.tile_id(F.col(lon), F.col(lat), self.zoom))

    def _area_km2(self):
        """The dim's own EXACT spherical tile area (R²·Δλ·Δsinφ — mercator
        tiles shrink with |latitude|, so the naive constant-area-per-zoom
        assumption would bias densities): density = count / (area_m2 / 1e6),
        in that operation order."""
        return None, F.col("area_m2") / F.lit(1e6)

    def _rings(self):
        """Each tile's lon/lat box."""
        from . import cells

        for x, y in self.tiles:
            w, s, e, n = cells.tile_bounds(x, y, self.zoom)
            yield cells.pack_tile(x, y), [[w, s], [e, s], [e, n], [w, n]]


class S2ViewGenerator(_CellViewGenerator):
    """S2-cell zonal view (reference S2ViewGenerator, generators/zonal/
    s2.py): zones are the S2 cells polyfilling a boundary polygon at a
    level. Cell assignment for the point side runs through the Arrow-batched
    Hilbert kernel (cells_s2.assign_cells_df); the cell dim (polyfill) is
    driver-computed like the reference's RegionCoverer."""

    key = "s2_cell"

    def __init__(self, spark, boundary, level: int = 8,
                 contain_mode: str = "center"):
        from . import cells_s2

        self.level = level
        self.cells = cells_s2.polyfill(boundary, level, mode=contain_mode)
        lat_c, lon_c = cells_s2.cell_centers_latlon(self.cells, level)
        super().__init__(
            spark, list(zip(self.cells.tolist(), lon_c.tolist(), lat_c.tolist())),
            "s2_cell long, center_lon double, center_lat double",
        )

    def _tag(self, points: DataFrame, lon: str, lat: str) -> DataFrame:
        from . import cells_s2

        return cells_s2.assign_cells_df(points, self.level, lon=lon, lat=lat)

    def _area_km2(self):
        """Each cell quad's equirectangular planar area at the cell's own
        latitude: vertex longitudes scaled by the cosine of the mean vertex
        latitude, the planar polygon area in degree² times (π·R/180)² m²
        per degree². The quads are small at usable levels, so this is
        within ~1e-4 of the spherical area; S2 cells at a level vary ~2× in
        ground area across a face. density = count / (area_m2 / 1e6)."""
        import numpy as np

        from . import cells_s2
        from .geometry import polygon_area

        deg2_m2 = (111_194.92664455873) ** 2  # (π·R/180)² — meters per degree²
        rows = []
        for c in self.cells:
            poly = cells_s2.cell_polygon(int(c))
            coslat = float(np.cos(np.radians(float(np.mean(poly[:, 1])))))
            scaled = np.column_stack([poly[:, 0] * coslat, poly[:, 1]])
            rows.append((int(c), polygon_area(scaled) * deg2_m2))
        return rows, F.col("__area") / F.lit(1e6)

    def _rings(self):
        """Each cell's quad, CCW."""
        from . import cells_s2

        for c in self.cells:
            yield c, [[float(x), float(y)] for x, y in cells_s2.cell_polygon(int(c))]
