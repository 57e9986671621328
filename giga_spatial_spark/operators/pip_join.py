"""Point-in-polygon join — the engine's flagship operator.

Reference semantics: gpd.sjoin(points, zones, how="inner",
predicate="within") in aggregate_points_to_zones
(gigaspatial/processing/geo.py:584-743, join at :684) — an R-tree build +
probe on a single node.

Spark-first design (SURVEY.md §2.4): two physical strategies with identical
output:

1. ``pip_join_native`` — cell-cover candidates via a broadcast equi-join on
   the mercator tile id, refined by a *fully native* edge cross-product
   test (no Python in the hot path; whole-stage codegen end to end).
   Correct for convex zones.

2. ``pip_join_rtree`` — candidates the same way, refine inside
   ``mapInPandas`` probing a broadcast :class:`geometry.GridIndex` (the
   from-scratch STRtree analog, reference buildings_engine.py:202-206)
   with vectorized numpy containment. Handles arbitrary simple polygons.

Both scale the same way: the polygon side is small (admin layers), so the
only shuffle-free plan is broadcast; the points side streams. At 10^12 rows
the tile-cover pre-filter drops the candidate multiplier to ~coverage
fraction × ring overlap, and no shuffle of the big side ever happens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells, synth
from ..functions.dialect import spark_col
from ..geometry import GridIndex
from ..session import local_df


def zone_cover_df(spark, polys: dict[int, np.ndarray], zoom: int,
                  exact: bool = True) -> DataFrame:
    """(tile, zone_id) cover table — driver-computed (covers are small, as in
    the reference's driver-side RegionCoverer, grid/s2.py:133-187).
    exact=True applies the SAT refine — valid ONLY for convex polygons;
    non-convex zones must use the (conservative) bbox cover."""
    rows = []
    for zid, poly in polys.items():
        for x, y in cells.polygon_cover(poly, zoom, exact=exact):
            rows.append((int(cells.pack_tile(x, y)), int(zid)))
    return local_df(spark, rows, "tile bigint, zone_id int")


def pip_join_native(
    points: DataFrame,
    polys: dict[int, np.ndarray],
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
) -> DataFrame:
    """Broadcast cover join + literal-predicate refine. Output: points
    columns + zone_id (inner join; multi-zone points duplicate, like sjoin).

    The polygon layer is a small literal dim, so the exact containment test
    compiles to a per-zone CASE of edge cross-products — the whole operator
    is scan → broadcast hash join → filter, zero shuffles of the point side
    and fully inside whole-stage codegen (verified via .explain)."""
    spark = points.sparkSession
    cover = zone_cover_df(spark, polys, zoom)
    pts = points.withColumn("__tile", cells.tile_id(F.col(lon), F.col(lat), zoom))
    cand = pts.join(F.broadcast(cover), pts["__tile"] == cover["tile"], "inner").drop(
        "tile", "__tile"
    )
    # one CASE over zone_id of the per-zone edge tests: the oracles' SQL
    # text, parsed by Spark in one call
    branches = " ".join(
        f"WHEN {int(zid)} THEN "
        + synth.convex_contains_sql(poly, f'"{lon}"', f'"{lat}"')
        for zid, poly in sorted(polys.items())
    )
    return cand.where(spark_col(f"CASE zone_id {branches} ELSE false END"))


def pip_join_rtree(
    points: DataFrame,
    polys: dict[int, np.ndarray],
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
    convex: bool = True,
) -> DataFrame:
    """Broadcast cover join + per-partition GridIndex refine in mapInPandas.

    The index is built once on the driver and broadcast; each Arrow batch
    probes it vectorized (numpy). This is the general-polygon scale path —
    the engine's own "broadcast R-tree per partition".
    """
    spark = points.sparkSession
    cover = zone_cover_df(spark, polys, zoom, exact=convex)
    pts = points.withColumn("__tile", cells.tile_id(F.col(lon), F.col(lat), zoom))
    cand = (
        pts.join(F.broadcast(cover), pts["__tile"] == cover["tile"], "left_semi")
        .drop("__tile")
    )

    bc = spark.sparkContext.broadcast(
        {int(k): np.asarray(v, dtype=np.float64) for k, v in polys.items()}
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(cand.schema.fields) + [StructField("zone_id", IntegerType())]
    )
    cols = cand.columns

    def refine(batches):
        index = GridIndex(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx, pid = index.query_points(
                pdf[lon].to_numpy(), pdf[lat].to_numpy(), convex=convex
            )
            if len(idx) == 0:
                continue
            out = pdf.iloc[idx].copy()
            out["zone_id"] = pd.array(pid.astype(np.int64), dtype="int32")
            yield out[cols + ["zone_id"]]

    return cand.mapInPandas(refine, schema=out_schema)
