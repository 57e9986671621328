"""Fractional (area-weighted) overlay aggregation.

Reference: _fractional_aggregation (gigaspatial/processing/geo.py:1051-1116):
UTM-project both layers, gpd.overlay(intersection), weight each parcel's
value by intersection_area / parcel_area, then groupby(zone).sum.

Spark design: bbox cover equi-join for candidates, then
  - ``fractional_overlay_boxes``: when both layers are axis-aligned boxes the
    intersection area is exact closed-form arithmetic — fully native columns
    AND expressible as the DuckDB oracle (greatest/least), so this operator
    is value-hash-checked end to end.
  - ``fractional_overlay_convex``: general convex×convex via the
    Sutherland–Hodgman clip (geometry.clip_polygon_convex) inside an Arrow
    UDF; verified in pytest against a pure-python oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..session import local_df

from ..geometry import (
    box_triangle_areas,
    clip_polygon_convex,
    ear_clip_triangulate,
    ensure_ccw,
    is_convex,
    polygon_area,
    polygon_intersection_area,
)


def fractional_overlay_boxes(
    parcels: DataFrame,
    zones: DataFrame,
    value_col: str = "value",
    zone_key: str = "zone_id",
) -> DataFrame:
    """parcels(pminx..pmaxy, value) × zones(zminx..zmaxy) →
    per-zone sum(value * frac_area). Zones broadcast (small dim)."""
    inter_w = F.greatest(
        F.lit(0.0), F.least("pmaxx", "zmaxx") - F.greatest("pminx", "zminx")
    )
    inter_h = F.greatest(
        F.lit(0.0), F.least("pmaxy", "zmaxy") - F.greatest("pminy", "zminy")
    )
    parcel_area = (F.col("pmaxx") - F.col("pminx")) * (F.col("pmaxy") - F.col("pminy"))
    frac = (inter_w * inter_h) / parcel_area
    joined = (
        parcels.join(
            F.broadcast(zones),
            (F.col("pminx") < F.col("zmaxx"))
            & (F.col("pmaxx") > F.col("zminx"))
            & (F.col("pminy") < F.col("zmaxy"))
            & (F.col("pmaxy") > F.col("zminy")),
            "inner",
        )
        .withColumn("__wv", F.col(value_col) * frac)
    )
    return joined.groupBy(zone_key).agg(
        F.sum("__wv").alias(f"{value_col}_weighted_sum"),
        F.count(F.lit(1)).alias("parcel_count"),
    )


def fractional_overlay_convex(
    parcels: DataFrame,
    zone_polys: dict[int, np.ndarray],
    value_col: str = "value",
    vertices_col: str = "vertices",
) -> DataFrame:
    """General path: parcels carry their polygon as array<array<double>>
    (lon,lat pairs); zones are broadcast convex polygons. Arrow-batched clip
    computes exact intersection fractions."""
    spark = parcels.sparkSession
    bc = spark.sparkContext.broadcast(
        {int(k): np.asarray(v, dtype=np.float64) for k, v in zone_polys.items()}
    )
    out_schema = "parcel_id bigint, zone_id int, frac double, weighted double"

    cols = parcels.columns

    def kernel(batches):
        zones = bc.value
        zboxes = {
            zid: (z[:, 0].min(), z[:, 1].min(), z[:, 0].max(), z[:, 1].max())
            for zid, z in zones.items()
        }
        for pdf in batches:
            recs = []
            # itertuples-free column zip (iterrows builds a Series per row —
            # the slowest pandas access path); bbox prefilter skips the clip
            # for the vast majority of (parcel, zone) pairs
            for pid, verts, val in zip(
                pdf["parcel_id"], pdf[vertices_col], pdf[value_col]
            ):
                poly = np.stack([np.asarray(v, dtype=np.float64) for v in verts])
                total = polygon_area(poly)
                if total <= 0:
                    continue
                bxmin, bymin = poly[:, 0].min(), poly[:, 1].min()
                bxmax, bymax = poly[:, 0].max(), poly[:, 1].max()
                for zid, zpoly in zones.items():
                    zxmin, zymin, zxmax, zymax = zboxes[zid]
                    if bxmin > zxmax or bxmax < zxmin or bymin > zymax or bymax < zymin:
                        continue
                    inter = clip_polygon_convex(poly, zpoly)
                    if len(inter) >= 3:
                        a = polygon_area(inter)
                        if a > 0:
                            frac = a / total
                            recs.append((pid, zid, frac, val * frac))
            if recs:
                yield pd.DataFrame(
                    recs, columns=["parcel_id", "zone_id", "frac", "weighted"]
                )

    pairs = parcels.mapInPandas(kernel, schema=out_schema)
    return pairs.groupBy("zone_id").agg(
        F.sum("weighted").alias(f"{value_col}_weighted_sum"),
        F.count(F.lit(1)).alias("parcel_count"),
    )


def _zone_signed_triangles(
    zone,
) -> list[tuple[np.ndarray, float]]:
    """Zone geometry → [(CCW triangle, sign)] — outer ring triangles carry
    +1, hole-ring triangles −1, so Σ sign·area(parcel ∩ tri) is the exact
    parcel∩zone area for zones with holes."""
    rings = [zone] if isinstance(zone, np.ndarray) else list(zone)
    out: list[tuple[np.ndarray, float]] = []
    for i, ring in enumerate(rings):
        ring = np.asarray(ring, dtype=np.float64)
        sign = 1.0 if i == 0 else -1.0
        tris = [ensure_ccw(ring)] if is_convex(ring) else ear_clip_triangulate(ring)
        out.extend((t, sign) for t in tris)
    return out


# Tangency guard: intersection areas below this are float-noise slivers
# (a parcel corner like 54.99999999999999 meeting a zone edge at 55 —
# observed 2e-14 deg² at sf0.1), not geometry. Both the kernels and the
# DuckDB twins (synth.rectilinear_overlay_sql) apply the SAME threshold,
# and the data's real overlaps are ≥ ~1e-2 deg² — seven orders of margin.
AREA_EPS = 1e-9


def fractional_overlay_general(
    parcels: DataFrame,
    zone_polys: dict[int, "np.ndarray | list"],
    value_col: str = "value",
    vertices_col: str = "vertices",
) -> DataFrame:
    """Fully general fractional overlay: arbitrary simple polygons on BOTH
    sides (non-convex allowed; zones may carry holes as [outer, *holes]).
    Reference parity: _fractional_aggregation runs gpd.overlay(
    how='intersection') on arbitrary polygons (processing/geo.py:1051-1116);
    here each zone is ear-clipped into signed triangles ONCE per task, each
    parcel is triangulated only if non-convex, and every convex triangle
    pair goes through the unambiguous Sutherland–Hodgman clip — the
    pairwise area sum is exact (geometry.polygon_intersection_area).

    Scale design matches fractional_overlay_convex: zones broadcast (small
    dim), parcels stream through one Arrow pass, per-zone bbox prefilter
    skips almost all pairs, then one partial+final agg — no shuffle of the
    parcel side, no driver collect. Kernel cost is ~10⁴ parcels/s/core in
    pure Python (measured) — ~30 core-hours per 10⁹ non-box parcels, i.e.
    minutes on a 1000-executor cluster; BOX parcels should use
    fractional_overlay_boxes_general (vectorized, ~10× faster)."""
    spark = parcels.sparkSession
    bc = spark.sparkContext.broadcast(
        {int(k): _zone_signed_triangles(v) for k, v in zone_polys.items()}
    )
    out_schema = "parcel_id bigint, zone_id int, frac double, weighted double"

    def kernel(batches):
        ztris = bc.value
        zboxes = {}
        for zid, tris in ztris.items():
            allv = np.vstack([t for t, _ in tris])
            zboxes[zid] = (
                allv[:, 0].min(), allv[:, 1].min(),
                allv[:, 0].max(), allv[:, 1].max(),
            )
        for pdf in batches:
            recs = []
            for pid, verts, val in zip(
                pdf["parcel_id"], pdf[vertices_col], pdf[value_col]
            ):
                poly = np.stack([np.asarray(v, dtype=np.float64) for v in verts])
                total = polygon_area(poly)
                if total <= 0:
                    continue
                tri_p = (
                    [ensure_ccw(poly)]
                    if is_convex(poly)
                    else ear_clip_triangulate(poly)
                )
                bxmin, bymin = poly[:, 0].min(), poly[:, 1].min()
                bxmax, bymax = poly[:, 0].max(), poly[:, 1].max()
                for zid, tris in ztris.items():
                    zxmin, zymin, zxmax, zymax = zboxes[zid]
                    if bxmin > zxmax or bxmax < zxmin or bymin > zymax or bymax < zymin:
                        continue
                    area = 0.0
                    for tz, sign in tris:
                        area += sign * polygon_intersection_area(
                            tz, poly, tri_b=tri_p
                        )
                    if area > AREA_EPS:
                        frac = area / total
                        recs.append((pid, zid, frac, val * frac))
            if recs:
                yield pd.DataFrame(
                    recs, columns=["parcel_id", "zone_id", "frac", "weighted"]
                )

    pairs = parcels.mapInPandas(kernel, schema=out_schema)
    return pairs.groupBy("zone_id").agg(
        F.sum("weighted").alias(f"{value_col}_weighted_sum"),
        F.count(F.lit(1)).alias("parcel_count"),
    )


def fractional_overlay_boxes_general(
    parcels: DataFrame,
    zone_polys: dict[int, "np.ndarray | list"],
    value_col: str = "value",
) -> DataFrame:
    """Fractional overlay of BOX parcels (pminx..pmaxy — the reference's
    raster/parcel disaggregation shape) against arbitrary NON-CONVEX zones
    (holes allowed): per signed zone triangle, intersection areas for the
    whole candidate batch come from ONE vectorized Sutherland–Hodgman pass
    (geometry.box_triangle_areas — four per-box half-plane clips, fixed
    8-vertex buffer) instead of a per-parcel Python loop. Identical output
    to fractional_overlay_general on box inputs (pytest-asserted); ~an
    order of magnitude faster per batch."""
    spark = parcels.sparkSession
    bc = spark.sparkContext.broadcast(
        {int(k): _zone_signed_triangles(v) for k, v in zone_polys.items()}
    )
    out_schema = "parcel_id bigint, zone_id int, frac double, weighted double"

    def kernel(batches):
        ztris = bc.value
        zboxes = {}
        for zid, tris in ztris.items():
            allv = np.vstack([t for t, _ in tris])
            zboxes[zid] = (
                allv[:, 0].min(), allv[:, 1].min(),
                allv[:, 0].max(), allv[:, 1].max(),
            )
        for pdf in batches:
            if not len(pdf):
                continue
            x1 = pdf["pminx"].to_numpy(np.float64)
            y1 = pdf["pminy"].to_numpy(np.float64)
            x2 = pdf["pmaxx"].to_numpy(np.float64)
            y2 = pdf["pmaxy"].to_numpy(np.float64)
            pid = pdf["parcel_id"].to_numpy()
            val = pdf[value_col].to_numpy(np.float64)
            total = (x2 - x1) * (y2 - y1)
            recs = []
            for zid, tris in ztris.items():
                zxmin, zymin, zxmax, zymax = zboxes[zid]
                cand = (
                    (x1 <= zxmax) & (x2 >= zxmin)
                    & (y1 <= zymax) & (y2 >= zymin)
                    & (total > 0)
                )
                if not cand.any():
                    continue
                ci = np.nonzero(cand)[0]
                area = np.zeros(len(ci))
                for tz, sign in tris:
                    area += sign * box_triangle_areas(
                        tz, x1[ci], y1[ci], x2[ci], y2[ci]
                    )
                pos = area > AREA_EPS
                if pos.any():
                    sel = ci[pos]
                    frac = area[pos] / total[sel]
                    recs.append(
                        pd.DataFrame(
                            {
                                "parcel_id": pid[sel],
                                "zone_id": np.full(len(sel), zid, dtype=np.int32),
                                "frac": frac,
                                "weighted": val[sel] * frac,
                            }
                        )
                    )
            if recs:
                yield pd.concat(recs, ignore_index=True)

    pairs = parcels.mapInPandas(kernel, schema=out_schema)
    return pairs.groupBy("zone_id").agg(
        F.sum("weighted").alias(f"{value_col}_weighted_sum"),
        F.count(F.lit(1)).alias("parcel_count"),
    )


# ---------------------------------------------- general intersects (non-convex)
def _box_intersects_poly_np(
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray,
    poly: np.ndarray,
) -> np.ndarray:
    """Exact inclusive box∩polygon test for an arbitrary simple polygon
    (reference _simple_aggregation's sjoin 'intersects', geo.py:1119-1157):
    SAT per polygon edge vs box (edge-bbox overlap + corners not strictly
    one side of the edge line) OR one box corner inside the polygon (covers
    box-entirely-inside; edge tests cover every boundary-crossing case)."""
    x1, y1 = poly[:, 0], poly[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    dx, dy = x2 - x1, y2 - y1
    exmin, exmax = np.minimum(x1, x2)[None, :], np.maximum(x1, x2)[None, :]
    eymin, eymax = np.minimum(y1, y2)[None, :], np.maximum(y1, y2)[None, :]
    bb = (
        (exmin <= maxx[:, None]) & (exmax >= minx[:, None])
        & (eymin <= maxy[:, None]) & (eymax >= miny[:, None])
    )
    sides = []
    for cx, cy in ((minx, miny), (minx, maxy), (maxx, miny), (maxx, maxy)):
        sides.append(
            dx[None, :] * (cy[:, None] - y1[None, :])
            - dy[None, :] * (cx[:, None] - x1[None, :])
        )
    all_pos = np.ones_like(bb)
    all_neg = np.ones_like(bb)
    for s in sides:
        all_pos &= s > 0
        all_neg &= s < 0
    edge_hit = (bb & ~all_pos & ~all_neg).any(axis=1)
    from ..geometry import point_in_polygon

    inside = point_in_polygon(poly, minx, miny)
    return edge_hit | inside


def box_polygon_intersects_join(
    parcels: DataFrame,
    zone_polys: dict[int, np.ndarray],
) -> DataFrame:
    """Box parcels × arbitrary (non-convex) literal zone polygons →
    (parcel rows, zone_id) intersect pairs. Native broadcast bbox cover join
    generates candidates; the exact SAT refine runs Arrow-batched (composite
    multi-zone CASE predicates fall out of whole-stage codegen — measured in
    docs/SCALE.md — so the refine deliberately lives in numpy)."""
    spark = parcels.sparkSession
    zrows = [
        (int(zid), float(p[:, 0].min()), float(p[:, 1].min()),
         float(p[:, 0].max()), float(p[:, 1].max()))
        for zid, p in sorted(zone_polys.items())
    ]
    zb = local_df(
        spark, zrows,
        "zone_id int, zbminx double, zbminy double, zbmaxx double, zbmaxy double",
    )
    cand = parcels.join(
        F.broadcast(zb),
        (F.col("pminx") <= F.col("zbmaxx")) & (F.col("pmaxx") >= F.col("zbminx"))
        & (F.col("pminy") <= F.col("zbmaxy")) & (F.col("pmaxy") >= F.col("zbminy")),
        "inner",
    ).drop("zbminx", "zbminy", "zbmaxx", "zbmaxy")
    bc = spark.sparkContext.broadcast(
        {int(k): np.asarray(v, dtype=np.float64) for k, v in zone_polys.items()}
    )
    from pyspark.sql.types import StructType

    out_schema = StructType(list(cand.schema.fields))

    def kernel(batches):
        zones = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            minx = pdf["pminx"].to_numpy(np.float64)
            miny = pdf["pminy"].to_numpy(np.float64)
            maxx = pdf["pmaxx"].to_numpy(np.float64)
            maxy = pdf["pmaxy"].to_numpy(np.float64)
            zcol = pdf["zone_id"].to_numpy()
            for zid, poly in zones.items():
                m = zcol == zid
                if m.any():
                    keep[m] = _box_intersects_poly_np(
                        minx[m], miny[m], maxx[m], maxy[m], poly
                    )
            yield pdf.loc[keep]

    return cand.mapInPandas(kernel, schema=out_schema)


def polygons_intersect(A: np.ndarray, B: np.ndarray) -> bool:
    """Exact inclusive intersects test for two arbitrary simple polygons
    (non-convex allowed; reference sjoin 'intersects' over arbitrary
    GeoDataFrames, geo.py:1119-1157): any edge pair crosses (CLRS
    orientation test, collinear overlaps resolved by segment-bbox overlap)
    OR either polygon contains the other's first vertex."""
    from ..geometry import point_in_polygon

    p1 = np.asarray(A, dtype=np.float64)
    p2 = np.roll(p1, -1, axis=0)
    q1 = np.asarray(B, dtype=np.float64)
    q2 = np.roll(q1, -1, axis=0)
    P1, P2 = p1[:, None, :], p2[:, None, :]
    Q1, Q2 = q1[None, :, :], q2[None, :, :]

    def cross(o, a, b):
        return (a[..., 0] - o[..., 0]) * (b[..., 1] - o[..., 1]) - (
            a[..., 1] - o[..., 1]
        ) * (b[..., 0] - o[..., 0])

    d1 = cross(P1, P2, Q1)
    d2 = cross(P1, P2, Q2)
    d3 = cross(Q1, Q2, P1)
    d4 = cross(Q1, Q2, P2)
    allz = (d1 == 0) & (d2 == 0) & (d3 == 0) & (d4 == 0)
    straddle = (d1 * d2 <= 0) & (d3 * d4 <= 0) & ~allz
    bbox_ok = (
        (np.minimum(P1[..., 0], P2[..., 0]) <= np.maximum(Q1[..., 0], Q2[..., 0]))
        & (np.maximum(P1[..., 0], P2[..., 0]) >= np.minimum(Q1[..., 0], Q2[..., 0]))
        & (np.minimum(P1[..., 1], P2[..., 1]) <= np.maximum(Q1[..., 1], Q2[..., 1]))
        & (np.maximum(P1[..., 1], P2[..., 1]) >= np.minimum(Q1[..., 1], Q2[..., 1]))
    )
    if (straddle | (allz & bbox_ok)).any():
        return True
    return bool(
        point_in_polygon(q1, p1[0:1, 0], p1[0:1, 1])[0]
        or point_in_polygon(p1, q1[0:1, 0], q1[0:1, 1])[0]
    )


def polygon_intersects_join(
    parcels: DataFrame,
    zone_polys: dict[int, np.ndarray],
    vertices_col: str = "vertices",
) -> DataFrame:
    """General polygon×polygon intersects join: parcels carry arbitrary
    simple polygons as array<array<double>>; zones are broadcast literal
    polygons (non-convex allowed on both sides). Arrow kernel does a bbox
    prefilter then the exact pairwise test; emits (parcel row, zone_id)."""
    spark = parcels.sparkSession
    bc = spark.sparkContext.broadcast(
        {int(k): np.asarray(v, dtype=np.float64) for k, v in zone_polys.items()}
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(parcels.schema.fields) + [StructField("zone_id", IntegerType())]
    )
    cols = parcels.columns

    def kernel(batches):
        zones = bc.value
        zboxes = {
            zid: (z[:, 0].min(), z[:, 1].min(), z[:, 0].max(), z[:, 1].max())
            for zid, z in zones.items()
        }
        for pdf in batches:
            recs = []
            for idx, verts in zip(pdf.index, pdf[vertices_col]):
                poly = np.stack([np.asarray(v, dtype=np.float64) for v in verts])
                bxmin, bymin = poly[:, 0].min(), poly[:, 1].min()
                bxmax, bymax = poly[:, 0].max(), poly[:, 1].max()
                for zid, zpoly in zones.items():
                    zxmin, zymin, zxmax, zymax = zboxes[zid]
                    if bxmin > zxmax or bxmax < zxmin or bymin > zymax or bymax < zymin:
                        continue
                    if polygons_intersect(poly, zpoly):
                        recs.append((idx, zid))
            if recs:
                idxs = [r[0] for r in recs]
                out = pdf.loc[idxs, cols].copy()
                out["zone_id"] = np.array([r[1] for r in recs], dtype=np.int32)
                yield out

    return parcels.mapInPandas(kernel, schema=out_schema)


def box_intersects_poly_sql(poly: np.ndarray, raycast_sql: str) -> str:
    """DuckDB twin of _box_intersects_poly_np for a literal polygon over box
    columns pminx/pminy/pmaxx/pmaxy. Edge constants (dx, dy, bbox) are
    computed in Python floats so both engines evaluate identical doubles;
    caller supplies the ray-cast containment term (synth.raycast_contains_sql
    on corner (pminx, pminy)) to keep the even-odd convention in one place."""
    edges = []
    n = len(poly)
    for i in range(n):
        x1, y1 = float(poly[i][0]), float(poly[i][1])
        x2, y2 = float(poly[(i + 1) % n][0]), float(poly[(i + 1) % n][1])
        dx, dy = x2 - x1, y2 - y1
        exmin, exmax = min(x1, x2), max(x1, x2)
        eymin, eymax = min(y1, y2), max(y1, y2)
        bb = (
            f"({exmin!r} <= pmaxx AND {exmax!r} >= pminx "
            f"AND {eymin!r} <= pmaxy AND {eymax!r} >= pminy)"
        )
        crosses = [
            f"({dx!r} * (({cy}) - {y1!r}) - {dy!r} * (({cx}) - {x1!r}))"
            for cx, cy in (
                ("pminx", "pminy"), ("pminx", "pmaxy"),
                ("pmaxx", "pminy"), ("pmaxx", "pmaxy"),
            )
        ]
        all_pos = " AND ".join(f"{c} > 0" for c in crosses)
        all_neg = " AND ".join(f"{c} < 0" for c in crosses)
        edges.append(f"({bb} AND NOT ({all_pos}) AND NOT ({all_neg}))")
    return f"(({' OR '.join(edges)}) OR {raycast_sql})"
