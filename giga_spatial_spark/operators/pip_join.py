"""Point-in-polygon join — the engine's flagship operator.

Reference semantics: gpd.sjoin(points, zones, how="inner",
predicate="within") in aggregate_points_to_zones
(gigaspatial/processing/geo.py:584-743, join at :684) — an R-tree build +
probe on a single node.

Spark-first design (SURVEY.md §2.4): candidates come from a broadcast
equi-join on the mercator tile id against a driver-computed cover of the
zones, then an exact refine.

1. ``pip_join_native`` — the one convex refine. Each cover row carries its
   zone's CCW edges as double columns, so the refine is one K-edge
   conjunction of cross products in the broadcast-hash-join condition:
   no Python, whole-stage codegen end to end, O(K) per candidate however
   many zones the layer has.

2. ``pip_join_rtree`` — the same operator for convex zones; for arbitrary
   simple polygons (``convex=False``) a bbox cover and a ``mapInPandas``
   even-odd refine probing a broadcast :class:`geometry.GridIndex` (the
   from-scratch STRtree analog, reference buildings_engine.py:202-206).

The polygon side is small (admin layers), so the only shuffle-free plan is
broadcast; the points side streams. At 10^12 rows the tile-cover pre-filter
drops the candidate multiplier to ~coverage fraction × ring overlap, and
no shuffle of the big side ever happens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells, synth
from ..functions.dialect import spark_col
from ..geometry import GridIndex, ensure_ccw
from ..session import local_df


def zone_edges(poly: np.ndarray, k: int) -> list[float]:
    """The CCW ring's edges as k (x1, y1, x2 − x1, y2 − y1) quadruples,
    flattened; a ring of fewer than k edges repeats its last edge, which
    repeats a term of the conjunction and so leaves it unchanged."""
    p = ensure_ccw(np.asarray(poly, dtype=np.float64))
    e = np.column_stack([p, np.roll(p, -1, axis=0) - p])
    return np.concatenate([e, np.repeat(e[-1:], k - len(e), axis=0)]).ravel().tolist()


def zone_cover_df(spark, polys: dict[int, np.ndarray], zoom: int,
                  exact: bool = True) -> DataFrame:
    """(tile, zone_id) cover table — driver-computed (covers are small, as in
    the reference's driver-side RegionCoverer, grid/s2.py:133-187).
    exact=True applies the SAT refine — valid ONLY for convex polygons;
    non-convex zones must use the (conservative) bbox cover. Each row also
    carries its zone's edges (:func:`zone_edges`) as double columns
    ``x1_i, y1_i, ex_i, ey_i`` for i < K, the layer's largest edge count."""
    k = max((len(p) for p in polys.values()), default=0)
    rows = []
    for zid, poly in polys.items():
        edges = zone_edges(poly, k)
        for x, y in cells.polygon_cover(poly, zoom, exact=exact):
            rows.append((int(cells.pack_tile(x, y)), int(zid), *edges))
    edge_cols = [f"{f}_{i} double" for i in range(k) for f in ("x1", "y1", "ex", "ey")]
    return local_df(spark, rows, ", ".join(["tile bigint", "zone_id int", *edge_cols]))


def pip_join_native(
    points: DataFrame,
    polys: dict[int, np.ndarray],
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
) -> DataFrame:
    """Broadcast cover join with the edge refine in its condition. Output:
    points columns + zone_id (inner join; multi-zone points duplicate, like
    sjoin). Convex zones of either winding; the boundary is inside.

    The refine is the conjunction over the cover's edge columns of
    ``synth.edge_term_sql`` — the arithmetic and operation order of
    ``geometry.convex_contains`` and the oracles' per-zone predicate — so
    the operator is scan → broadcast hash join with a condition, zero
    shuffles of the point side, inside whole-stage codegen, O(K) per
    candidate however many zones the layer has."""
    cover = zone_cover_df(points.sparkSession, polys, zoom)
    edge_cols = cover.columns[2:]
    inside = " AND ".join(
        synth.edge_term_sql(f"x1_{i}", f"y1_{i}", f"ex_{i}", f"ey_{i}",
                            f'"{lon}"', f'"{lat}"')
        for i in range(len(edge_cols) // 4)
    ) or "false"
    pts = points.withColumn("__tile", cells.tile_id(F.col(lon), F.col(lat), zoom))
    return pts.join(
        F.broadcast(cover), (pts["__tile"] == cover["tile"]) & spark_col(inside)
    ).drop("tile", "__tile", *edge_cols)


def pip_join_rtree(
    points: DataFrame,
    polys: dict[int, np.ndarray],
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 7,
    convex: bool = True,
) -> DataFrame:
    """Convex zones: :func:`pip_join_native`. Arbitrary simple polygons
    (``convex=False``): bbox cover semi-join + per-partition GridIndex
    even-odd refine in mapInPandas.

    The index is built once on the driver and broadcast; each Arrow batch
    probes it vectorized (numpy) — the engine's "broadcast R-tree per
    partition".
    """
    if convex:
        return pip_join_native(points, polys, lon=lon, lat=lat, zoom=zoom)
    spark = points.sparkSession
    cover = zone_cover_df(spark, polys, zoom, exact=False)
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
                pdf[lon].to_numpy(), pdf[lat].to_numpy(), convex=False
            )
            if len(idx) == 0:
                continue
            out = pdf.iloc[idx].copy()
            out["zone_id"] = pd.array(pid.astype(np.int64), dtype="int32")
            yield out[cols + ["zone_id"]]

    return cand.mapInPandas(refine, schema=out_schema)
