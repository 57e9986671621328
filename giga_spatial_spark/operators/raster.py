"""Raster path — pixel-table semantics of the reference TifProcessor.

Reference: GeoTIFF → pixel dataframe `to_dataframe()`
(gigaspatial/processing/tif_processor.py:587-637), zonal stats
`sample_by_polygons` (:1008-1089), point sampling `sample_by_coordinates`
(:958-1006), merge-mean (:434-502), nodata masks (:1737-1829).

Spark design (SURVEY.md §2.1 row 4): a raster IS a table of pixels
(band, px, py, lon, lat, value). The TIFF windowed decode would be a
mapInPandas over block windows; rasterio is not in this container, so
ingest is stubbed by a deterministic synthetic raster generated with pure
integer arithmetic — which makes every raster operator ORACLE-CHECKABLE in
DuckDB (the SQL twin generates the identical grid). All operator semantics
(nodata masking, stat dispatch, NaN for empty zones, merge-mean) are real.

Grid convention: W×H pixels covering [lon0,lon1]×[lat0,lat1], pixel center
lon = lon0 + (px+0.5)*(lon1-lon0)/W (the reference's affine-transform pixel
centers, tif_processor.py:1694-1726).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import local_df

from .zonal import _AGG_FNS


@dataclass(frozen=True)
class RasterMeta:
    width: int = 360
    height: int = 160
    lon0: float = -180.0
    lon1: float = 180.0
    lat0: float = -80.0
    lat1: float = 80.0

    @property
    def dx(self) -> float:
        return (self.lon1 - self.lon0) / self.width

    @property
    def dy(self) -> float:
        return (self.lat1 - self.lat0) / self.height


def synthetic_raster(spark: SparkSession, meta: RasterMeta = RasterMeta(),
                     band: int = 1, partitions: int | None = None) -> DataFrame:
    """Deterministic pixel table: value = ((px*31 + py*17 + band) % 997)/10,
    nodata (NULL) where (px*7 + py*13) % 23 == 0.

    partitions defaults to 8×parallelism: pixel ids are contiguous scan
    ranges, and downstream zone filters cluster in latitude bands — coarse
    partitions would leave a few tasks owning all the matching pixels."""
    if partitions is None:
        # ~500k pixels per task, capped at 8×parallelism (small rasters
        # shouldn't pay 100s of empty-task overheads)
        n_total = meta.width * meta.height
        partitions = max(
            1,
            min(8 * spark.sparkContext.defaultParallelism, n_total // 500_000 + 1),
        )
    px = F.col("id") % meta.width
    py = F.floor(F.col("id") / meta.width).cast("bigint")
    raw = ((px * 31 + py * 17 + F.lit(band)) % 997) / 10.0
    value = F.when((px * 7 + py * 13) % 23 == 0, F.lit(None)).otherwise(raw)
    return (
        spark.range(0, meta.width * meta.height, 1, partitions)
        .select(
            F.lit(band).alias("band"),
            px.alias("px"),
            py.alias("py"),
            (F.lit(meta.lon0) + (px + 0.5) * meta.dx).alias("lon"),
            (F.lit(meta.lat0) + (py + 0.5) * meta.dy).alias("lat"),
            value.alias("value"),
        )
    )


def synthetic_raster_sql(meta: RasterMeta = RasterMeta(), band: int = 1) -> str:
    """DuckDB twin of synthetic_raster (range → identical arithmetic)."""
    n = meta.width * meta.height
    py = f"(i // {meta.width})"  # integer division — DuckDB cast() rounds!
    return (
        f"SELECT {band} AS band, (i % {meta.width}) AS px, "
        f"{py} AS py, "
        f"({meta.lon0} + ((i % {meta.width}) + 0.5) * {meta.dx!r}) AS lon, "
        f"({meta.lat0} + ({py} + 0.5) * {meta.dy!r}) AS lat, "
        f"CASE WHEN ((i % {meta.width}) * 7 + {py} * 13) % 23 = 0 "
        f"THEN NULL ELSE (((i % {meta.width}) * 31 + {py} * 17 + {band}) % 997) / 10.0 END AS value "
        f"FROM (SELECT unnest(range({n})) AS i)"
    )


def synthetic_raster_multiband(
    spark: SparkSession, meta: RasterMeta = RasterMeta(), bands: int = 3
) -> DataFrame:
    """Multi-band pixel table (reference multi-band TIFFs / rgb mode,
    tif_processor.py:639-718): union of per-band grids sharing the same
    geometry — band is a first-class column, so per-band stats and rgb-shape
    sampling are plain groupBy/pivot."""
    out = synthetic_raster(spark, meta, band=1)
    for b in range(2, bands + 1):
        out = out.unionByName(synthetic_raster(spark, meta, band=b))
    return out


def synthetic_raster_multiband_sql(meta: RasterMeta = RasterMeta(), bands: int = 3) -> str:
    return " UNION ALL ".join(
        synthetic_raster_sql(meta, band=b) for b in range(1, bands + 1)
    )


def sample_multiband(
    points: DataFrame,
    pixels: DataFrame,
    meta: RasterMeta = RasterMeta(),
    bands: int = 3,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """rgb-shape point sampling (reference sample_by_coordinates multi-band
    shapes, tif_processor.py:958-1006): one value column per band at the
    containing pixel. Conditional aggregation instead of n_bands self-joins —
    one shuffle keyed by the point, partial aggs map-side."""
    px = F.floor((F.col(lon) - F.lit(meta.lon0)) / F.lit(meta.dx)).cast("bigint")
    py = F.floor((F.col(lat) - F.lit(meta.lat0)) / F.lit(meta.dy)).cast("bigint")
    keyed = points.withColumn("px", px).withColumn("py", py)
    joined = keyed.join(
        pixels.select("band", "px", "py", "value"), ["px", "py"], "left"
    )
    group_cols = [c for c in points.columns]
    aggs = [
        F.max(F.when(F.col("band") == b, F.col("value"))).alias(f"b{b}")
        for b in range(1, bands + 1)
    ]
    return joined.groupBy(*group_cols).agg(*aggs)


def zonal_raster_stats(
    pixels: DataFrame,
    polys,
    stats: list[str] = ("count", "sum", "mean", "min", "max", "median"),
    zoom: int = 6,
    by_band: bool = False,
) -> DataFrame:
    """Per-zone stats over valid (non-nodata) pixels — reference
    sample_by_polygons semantics: nodata dropped first, NaN for zones with
    no valid pixels, count = number of valid pixels (tif_processor.py:1043).

    The refine is the convex edge conjunction of ``pip_join_native``, in
    the broadcast-hash-join condition under whole-stage codegen: no Python
    worker, O(edges) per candidate pixel (docs/SCALE.md)."""
    from .pip_join import pip_join_rtree

    valid = pixels.where(F.col("value").isNotNull())
    matches = pip_join_rtree(valid, polys, lon="lon", lat="lat", zoom=zoom)
    exprs = []
    for s in stats:
        exprs.append(_AGG_FNS[s](F.col("value")).alias(f"value_{s}"))
    keys = ["zone_id", "band"] if by_band else ["zone_id"]
    return matches.groupBy(*keys).agg(*exprs)


def sample_by_coordinates(
    points: DataFrame,
    pixels: DataFrame,
    meta: RasterMeta = RasterMeta(),
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Raster value at each point — nearest (containing) pixel equi-join
    (reference :958-1006 reads the pixel under each coordinate)."""
    px = F.floor((F.col(lon) - F.lit(meta.lon0)) / F.lit(meta.dx)).cast("bigint")
    py = F.floor((F.col(lat) - F.lit(meta.lat0)) / F.lit(meta.dy)).cast("bigint")
    keyed = points.withColumn("px", px).withColumn("py", py)
    return keyed.join(
        pixels.select("px", "py", F.col("value").alias("pixel_value")),
        ["px", "py"],
        "left",
    )


def sample_bilinear(
    points: DataFrame,
    pixels: DataFrame,
    meta: RasterMeta = RasterMeta(),
    lon: str = "lon",
    lat: str = "lat",
    out_col: str = "bilinear",
) -> DataFrame:
    """Bilinear interpolation at each point (the reference's SRTM elevation
    parser interpolates bilinearly between the 4 surrounding samples,
    processing/elevation/srtm_parser.py — here over any pixel table).

    One explode-join gathers the 2×2 neighborhood (single shuffle keyed by
    pixel), then the weighted sum is a FIXED-ORDER expression over four
    pivoted columns — never a float groupBy sum, so the result is
    bit-deterministic and the DuckDB oracle matches exactly. Any missing /
    nodata neighbor makes the result NULL (NULL propagates through +)."""
    fx = (F.col(lon) - F.lit(meta.lon0)) / F.lit(meta.dx) - F.lit(0.5)
    fy = (F.col(lat) - F.lit(meta.lat0)) / F.lit(meta.dy) - F.lit(0.5)
    keyed = (
        points.withColumn("__fx", fx)
        .withColumn("__fy", fy)
        .withColumn("x0", F.floor(F.col("__fx")).cast("bigint"))
        .withColumn("y0", F.floor(F.col("__fy")).cast("bigint"))
        .withColumn("wx", F.col("__fx") - F.col("x0"))
        .withColumn("wy", F.col("__fy") - F.col("y0"))
        .drop("__fx", "__fy")
    )
    offs = local_df(
        points.sparkSession, [(0, 0), (1, 0), (0, 1), (1, 1)], "odx int, ody int"
    )
    cand = (
        keyed.crossJoin(F.broadcast(offs))
        .withColumn("px", F.col("x0") + F.col("odx"))
        .withColumn("py", F.col("y0") + F.col("ody"))
    )
    j = cand.join(pixels.select("px", "py", "value"), ["px", "py"], "left")
    keys = [c for c in points.columns] + ["wx", "wy"]
    piv = j.groupBy(*keys).agg(
        *[
            F.max(
                F.when((F.col("odx") == dx) & (F.col("ody") == dy), F.col("value"))
            ).alias(f"v{dx}{dy}")
            for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1))
        ]
    )
    wx, wy = F.col("wx"), F.col("wy")
    value = (
        ((F.lit(1.0) - wx) * (F.lit(1.0) - wy)) * F.col("v00")
        + (wx * (F.lit(1.0) - wy)) * F.col("v10")
        + ((F.lit(1.0) - wx) * wy) * F.col("v01")
        + (wx * wy) * F.col("v11")
    )
    return piv.withColumn(out_col, value).drop("wx", "wy", "v00", "v10", "v01", "v11")


def sample_bilinear_sql(src: str, raster_cte: str, meta: RasterMeta = RasterMeta(),
                        out_col: str = "bilinear") -> str:
    """DuckDB twin of sample_bilinear over `src` (doc_id, lon, lat)."""
    return f"""
WITH raster AS ({raster_cte}), d AS ({src}),
k AS (
  SELECT doc_id,
    cast(floor((lon - {meta.lon0}) / {meta.dx!r} - 0.5) AS BIGINT) AS x0,
    cast(floor((lat - {meta.lat0}) / {meta.dy!r} - 0.5) AS BIGINT) AS y0,
    ((lon - {meta.lon0}) / {meta.dx!r} - 0.5) -
      cast(floor((lon - {meta.lon0}) / {meta.dx!r} - 0.5) AS BIGINT) AS wx,
    ((lat - {meta.lat0}) / {meta.dy!r} - 0.5) -
      cast(floor((lat - {meta.lat0}) / {meta.dy!r} - 0.5) AS BIGINT) AS wy
  FROM d
),
c AS (
  SELECT doc_id, wx, wy, o.odx, o.ody, x0 + o.odx AS px, y0 + o.ody AS py
  FROM k CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) o(odx, ody)
),
j AS (SELECT c.*, r.value FROM c LEFT JOIN raster r USING (px, py)),
p AS (
  SELECT doc_id, wx, wy,
    max(CASE WHEN odx = 0 AND ody = 0 THEN value END) AS v00,
    max(CASE WHEN odx = 1 AND ody = 0 THEN value END) AS v10,
    max(CASE WHEN odx = 0 AND ody = 1 THEN value END) AS v01,
    max(CASE WHEN odx = 1 AND ody = 1 THEN value END) AS v11
  FROM j GROUP BY 1, 2, 3
)
SELECT doc_id,
  ((1.0 - wx) * (1.0 - wy)) * v00 + (wx * (1.0 - wy)) * v10 +
  ((1.0 - wx) * wy) * v01 + (wx * wy) * v11 AS {out_col}
FROM p
"""


def merge_mean(rasters: list[DataFrame]) -> DataFrame:
    """Overlapping-raster mean (reference _merge_with_mean :434-502):
    union pixel tables → groupBy pixel → avg of valid values."""
    u = rasters[0]
    for r in rasters[1:]:
        u = u.unionByName(r)
    return (
        u.where(F.col("value").isNotNull())
        .groupBy("px", "py")
        .agg(F.avg("value").alias("value_mean"), F.count(F.lit(1)).alias("n_rasters"))
    )


# dataset-kind → forced statistic (reference WorldPop/GHSL handlers force
# sum for population counts and median/mean for continuous surfaces —
# handlers/worldpop.py stat dispatch)
FORCED_STATS: dict[str, str] = {
    "population": "sum",
    "built_surface": "sum",
    "elevation": "median",
    "smod": "median",
    "ntl": "mean",
}


def zonal_stats_forced(
    pixels: DataFrame, polys, dataset_kind: str, zoom: int = 6
) -> DataFrame:
    """Forced stat selection by dataset kind (reference forces the
    physically-meaningful aggregate: counts sum, classifications median,
    intensities mean) — thin dispatch over zonal_raster_stats."""
    if dataset_kind not in FORCED_STATS:
        raise ValueError(
            f"unknown dataset kind {dataset_kind!r}; known: {sorted(FORCED_STATS)}"
        )
    return zonal_raster_stats(
        pixels, polys, stats=[FORCED_STATS[dataset_kind]], zoom=zoom
    )


def multiband_valid_mask(pixels: DataFrame, mode: str = "any") -> DataFrame:
    """Any-band / all-band validity mask over a multi-band pixel table
    (reference tif_processor.py:1737-1829 nodata masks): (px, py) keys whose
    value is non-null in ANY band ('any') or EVERY band ('all')."""
    per_px = pixels.groupBy("px", "py").agg(
        F.count("value").alias("n_valid"), F.count(F.lit(1)).alias("n_bands")
    )
    if mode == "any":
        return per_px.where(F.col("n_valid") > 0).select("px", "py")
    if mode == "all":
        return per_px.where(F.col("n_valid") == F.col("n_bands")).select("px", "py")
    raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")


def pixel_adjacency_edges(
    pixels: DataFrame, connectivity: int = 4, same_value: bool = False
) -> DataFrame:
    """Pixel-adjacency edge list (reference tif_processor.py:836-956 builds
    a graph over neighboring valid pixels): directed-deduplicated edges
    (each undirected pair once, via positive offsets) between valid pixels.

    Pure equi-joins on shifted keys — Catalyst hash-joins on (px+dx, py+dy),
    so at 10^12 pixels this is shuffle-by-key, never a neighborhood scan.
    connectivity=8 adds diagonals; same_value keeps only equal-value
    neighbors (segmentation edges)."""
    valid = pixels.where(F.col("value").isNotNull())
    right = valid.select(
        F.col("px").alias("qx"), F.col("py").alias("qy"), F.col("value").alias("value_b")
    )
    offs = [(1, 0), (0, 1)]
    if connectivity == 8:
        offs += [(1, 1), (1, -1)]
    parts = []
    for dx, dy in offs:
        j = valid.join(
            right,
            ((F.col("px") + dx) == F.col("qx")) & ((F.col("py") + dy) == F.col("qy")),
            "inner",
        ).select(
            "px", "py", "qx", "qy",
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
            F.col("value").alias("value_a"), "value_b",
        )
        parts.append(j)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if same_value:
        out = out.where(F.col("value_a") == F.col("value_b"))
    return out


def raster_global_stats(pixels: DataFrame) -> DataFrame:
    """Streaming per-block global stats (reference _get_basic_statistics
    :1559-1692) — partial+final agg is native."""
    v = F.col("value")
    return pixels.where(v.isNotNull()).agg(
        F.count(v).alias("count"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.avg(v).alias("mean"),
        F.stddev(v).alias("std"),
        F.sum(v).alias("sum"),
    )
