"""k-nearest-neighbor joins (k=1 nearest facility, and top-k).

Reference semantics: cKDTree(right).query(left, k=1) then exact haversine
(PoiViewGenerator.map_nearest_points, generators/poi.py:287-391), with the
shard-local min-merge (buildings_engine.py:226-316).

Spark-first design (SURVEY.md §2.4):
  - ``knn_broadcast``: when the right side is a small dim (facilities),
    broadcast its coordinate array and scan the big side once in
    ``mapInPandas`` — zero shuffle, exact argmin per row via vectorized
    haversine. This is THE plan for dim-sized right sides at 10^12 rows.
  - ``knn_grid``: one lazy, exact plan for large right sides, with no
    driver loop and no driver collect. A per-tile seed ring reaches the
    nearest occupied facility tile, the nearest facility inside it gives
    an upper bound ``d1``, and the final ``min_by`` runs over the smallest
    ring beyond which nothing is as close as ``d1``.
  - Every candidate step expands rows with ``ring_candidates``, which
    emits each row's own ring of tiles (no offsets table, no cross join).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

from .. import cells
from ..functions.dialect import spark_col
from ..geometry import EARTH_RADIUS_M, haversine_np
from ..synth import haversine_sql

# Ceiling for the collected facility dim — coordinate triples at ~24 B/row
# put 2M rows at ~50 MB broadcast, the edge of worth-broadcasting; beyond
# it knn_broadcast raises and knn_grid (no driver collect) is the plan.
# PoiViewGenerator dispatches on the same constant.
BROADCAST_FACILITY_LIMIT = 2_000_000
M_PER_DEG = 111194.9  # ground metres per degree of arc, rounded down


def _wedge_m(lat: str, r: int, tile_deg: float) -> str:
    """Lower bound (m) on the distance from a row at latitude `lat` to
    anything beyond r tile columns: the great-circle distance to the
    longitude wedge r * tile_deg away, which holds over the pole too."""
    gap = math.sin(math.radians(min(r * tile_deg, 90.0)))
    return f"{EARTH_RADIUS_M!r}D * asin(cos(radians(`{lat}`)) * {gap!r}D)"


def ring_candidates(
    df: DataFrame,
    ring: Column | int,
    zoom: int,
    tile_col: str = "__ptile",
) -> DataFrame:
    """Expand each row to the tiles (__ctile) within Chebyshev distance
    ``ring`` of its tile, each candidate tile exactly once per row.

    ``ring`` is a per-row Column (or an int for every row), so each row
    pays only for its own ring. Tile x wraps mod n without duplication
    (all n columns once 2*ring+1 >= n); tile y is clipped at the poles
    rather than clamped (clamping would duplicate edge tiles and inflate
    join pair counts). A NULL tile or ring emits nothing."""
    n = 2**zoom
    px, py = f"shiftright(`{tile_col}`, 32)", f"`{tile_col}` % 4294967296"
    r = F.lit(ring) if isinstance(ring, int) else ring
    # SQL strings: each Column-builder call is a py4j round trip
    return (
        df.select("*", r.cast("long").alias("__ring"))
        .selectExpr(
            "*",
            f"explode(sequence(greatest({py} - __ring, 0), least({py} + __ring, {n - 1})))"
            " AS __cy",
        )
        .selectExpr(
            "*",
            f"explode(IF(2 * __ring + 1 >= {n}, sequence(0L, {n - 1}L),"
            f" sequence({px} - __ring, {px} + __ring))) AS __cx",
        )
        .withColumn("__ctile", F.expr(f"shiftleft(pmod(__cx, {n}), 32) + __cy"))
        .drop("__ring", "__cx", "__cy")
    )


def knn_broadcast(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    fac_id: str = "facility_id",
    flon: str = "flon",
    flat: str = "flat",
    dist_col: str = "nearest_dist_m",
) -> DataFrame:
    """Exact nearest facility per point; facilities broadcast as numpy.

    Tie-break on smallest facility id (deterministic, matching an
    ORDER BY dist, id LIMIT 1 oracle).

    The facility side is a DIM by contract: its size is checked (JVM-side
    truncated count, nothing collected) BEFORE the toPandas — a
    fact-table-sized right side raises with a pointer at knn_grid instead
    of OOMing the driver (same guarded-collect pattern as
    ann.cosine_topk_gemm's GEMM_CORPUS_LIMIT).
    """
    probe = facilities.limit(BROADCAST_FACILITY_LIMIT + 1).count()
    if probe > BROADCAST_FACILITY_LIMIT:
        raise ValueError(
            f"knn_broadcast: facility table exceeds "
            f"{BROADCAST_FACILITY_LIMIT:,} rows — not a broadcast-able dim. "
            "Use knn_grid (exact tile-grid kNN, no driver collect) for "
            "fact-sized facility layers."
        )
    # sorted by id so np.argmin's first-among-equals tie-break = smallest id
    fac = facilities.select(fac_id, flon, flat).orderBy(fac_id).toPandas()
    if len(fac) == 0:
        # no facilities: every point resolves to NULL neighbor / NULL dist
        return points.withColumn(
            "nearest_facility_id", F.lit(None).cast(LongType())
        ).withColumn(dist_col, F.lit(None).cast(DoubleType()))
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(
        (
            fac[fac_id].to_numpy(),
            fac[flon].to_numpy(dtype=np.float64),
            fac[flat].to_numpy(dtype=np.float64),
        )
    )
    # copy — DataFrame.schema is cached; StructType.add mutates in place
    out_schema = StructType(
        list(points.schema.fields)
        + [
            StructField("nearest_facility_id", LongType()),
            StructField(dist_col, DoubleType()),
        ]
    )
    cols = points.columns

    def kernel(batches):
        ids, flons, flats = bc.value
        # great-circle argmin == argmax of unit-vector dot products
        # (haversine distance is monotone decreasing in the dot product),
        # so the (n_points × n_fac) sweep is one BLAS dgemm instead of
        # six trig kernels on (n, m) temporaries — ~20× less memory
        # traffic. Exact haversine is evaluated only for the winner.
        frad_lat = np.radians(flats)
        frad_lon = np.radians(flons)
        fvec = np.stack(
            [
                np.cos(frad_lat) * np.cos(frad_lon),
                np.cos(frad_lat) * np.sin(frad_lon),
                np.sin(frad_lat),
            ],
            axis=1,
        )  # (m, 3)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            plat = pdf[lat].to_numpy(dtype=np.float64)
            plon = pdf[lon].to_numpy(dtype=np.float64)
            prad_lat = np.radians(plat)
            prad_lon = np.radians(plon)
            pvec = np.stack(
                [
                    np.cos(prad_lat) * np.cos(prad_lon),
                    np.cos(prad_lat) * np.sin(prad_lon),
                    np.sin(prad_lat),
                ],
                axis=1,
            )  # (n, 3)
            best_id = np.empty(len(pdf), dtype=np.int64)
            best_j = np.empty(len(pdf), dtype=np.int64)
            # two-level blocking with a running argmax: the (points ×
            # facilities) dot matrix is never materialized beyond one
            # cache-sized block, so the sweep stays compute-bound instead
            # of DRAM-bound under many concurrent workers. Strict > keeps
            # the FIRST maximum → lowest facility id on ties (ids sorted).
            m = len(ids)
            p_step = 4096
            f_step = max(64, min(m, (1 << 21) // (8 * p_step) or 64))
            fvec_t = np.ascontiguousarray(fvec.T)
            for s in range(0, len(pdf), p_step):
                e = min(s + p_step, len(pdf))
                blk = pvec[s:e]
                run_val = np.full(e - s, -2.0)
                run_j = np.zeros(e - s, dtype=np.int64)
                for fs in range(0, m, f_step):
                    fe = min(fs + f_step, m)
                    dots = blk @ fvec_t[:, fs:fe]
                    j = np.argmax(dots, axis=1)
                    v = dots[np.arange(e - s), j]
                    upd = v > run_val
                    run_val[upd] = v[upd]
                    run_j[upd] = j[upd] + fs
                best_j[s:e] = run_j
            best_id[:] = ids[best_j]
            best_d = haversine_np(plat, plon, flats[best_j], flons[best_j])
            out = pdf.copy()
            out["nearest_facility_id"] = best_id
            out[dist_col] = best_d
            yield out[cols + ["nearest_facility_id", dist_col]]

    # facilities must be sorted by id so argmax tie-break = smallest id
    return points.mapInPandas(kernel, schema=out_schema)


def knn_grid(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    fac_id: str = "facility_id",
    flon: str = "flon",
    flat: str = "flat",
    zoom: int = 5,
    dist_col: str = "nearest_dist_m",
) -> DataFrame:
    """Exact nearest facility per point (ties: smallest id, as in
    ``knn_broadcast``; NULLs without facilities) as one lazy plan: no
    driver loop, no eager job, no broadcast fallback.

    1. Seed ring per occupied point tile: the Chebyshev tile distance
       (x wrapping) to the nearest occupied facility tile, from the cross
       join of the distinct occupied tiles (at most 4^zoom per side).
    2. ``d1``: the nearest facility within the seed ring, an upper bound
       on the true nearest distance.
    3. Ring ``R``: the smallest ring whose lower bound on the distance to
       anything outside it is > ``d1``; else n, the whole grid.
    4. ``min_by(fac_id, struct(dist, fac_id))`` over ring R.

    Exact: every facility within ``d1``, the nearest one and its ties, lies
    inside ring R.
    """
    n = 2**zoom
    tile_deg = 360.0 / n
    pts = points.withColumn("__ptile", cells.tile_id(F.col(lon), F.col(lat), zoom))
    fac = facilities.select(fac_id, flon, flat).withColumn(
        "__ftile", cells.tile_id(F.col(flon), F.col(flat), zoom)
    )

    def candidates(rows: DataFrame, ring: Column) -> DataFrame:
        return (
            ring_candidates(rows, ring, zoom)
            .join(fac, F.col("__ctile") == F.col("__ftile"))
            .withColumn(
                "__dist", spark_col(haversine_sql(lat, lon, flat, flon))
            )
        )

    adx = "abs(shiftright(__ptile, 32) - shiftright(__ftile, 32))"
    chebyshev = (
        f"greatest(least({adx}, {n} - {adx}), "
        "abs(__ptile % 4294967296 - __ftile % 4294967296))"
    )
    seed = (
        pts.select("__ptile").distinct()
        .crossJoin(F.broadcast(fac.select("__ftile").distinct()))
        .groupBy("__ptile")
        .agg(F.min(F.expr(chebyshev)).alias("__seed"))
    )
    upper = (
        candidates(
            pts.select(point_id, lon, lat, "__ptile").join(F.broadcast(seed), "__ptile"),
            F.col("__seed"),
        )
        .groupBy(point_id)
        .agg(
            F.first(lon).alias(lon),
            F.first(lat).alias(lat),
            F.first("__ptile").alias("__ptile"),
            F.min("__dist").alias("__d1"),
        )
    )
    # Lower bound on the distance to anything outside ring r. Beyond r rows:
    # r tiles of mercator y, each at least cos(worst band latitude) of a
    # tile in latitude. Beyond r columns (unless the ring wraps): the
    # great-circle distance to the longitude wedge >= r tiles away, which
    # holds for facilities over the pole too.
    def bound(r: int) -> str:
        rows = (
            f"{r * tile_deg * M_PER_DEG!r}D * cos(radians(least(abs(`{lat}`)"
            f" + {(r + 1) * tile_deg!r}D, 85.06D)))"
        )
        if 2 * r + 1 >= n:
            return rows
        return f"least({rows}, {_wedge_m(lat, r, tile_deg)})"

    # one CASE through F.expr: a Column per branch costs py4j calls.
    # Rings start at 1: lon -180 and 180 are one meridian in two tiles.
    # Strict >: a facility outside the ring at exactly d1 could win the tie.
    whens = " ".join(f"WHEN {bound(r)} > __d1 THEN {r}" for r in range(1, n))
    best = (
        candidates(upper, F.expr(f"CASE {whens} ELSE {n} END"))
        .groupBy(point_id)
        .agg(
            F.min_by(F.col(fac_id), F.struct("__dist", fac_id)).alias(
                "nearest_facility_id"
            ),
            F.min("__dist").alias(dist_col),
        )
    )
    return points.join(best, point_id, "left")


def topk_neighbors(
    left: DataFrame,
    right: DataFrame,
    k: int,
    max_distance_m: float,
    left_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    right_id: str = "facility_id",
    rlon: str = "flon",
    rlat: str = "flat",
    zoom: int = 4,
) -> DataFrame:
    """ε-bounded top-k neighbors per left row (reference build_distance_graph,
    processing/algorithms.py:24-204): cell-cover candidates at a ring sized
    to ε, haversine filter, row_number window top-k."""
    n = 2**zoom
    tile_deg = 360.0 / n
    # per-row ring: rows — the mercator lat extent of a tile scales ~cos(lat);
    # take the worst latitude inside the row's ε-disk (|lat| + ε in degrees).
    # Columns — the smallest r whose wedge bound (as in knn_grid) exceeds ε;
    # near a pole none does, and the ring wraps every column (n // 2).
    eps_deg = max_distance_m / M_PER_DEG
    band_cos = f"cos(radians(least(abs(`{lat}`) + {eps_deg!r}D, 85.06D)))"
    cols = " ".join(
        f"WHEN {_wedge_m(lat, r, tile_deg)} > {max_distance_m!r}D THEN {r}"
        for r in range(1, n // 2)
    )
    row_ring = F.expr(
        f"greatest(ceil({max_distance_m / (tile_deg * M_PER_DEG)!r}D / {band_cos}) + 1,"
        f" CASE {cols} ELSE {n // 2} END)"
    )
    lt = left.withColumn("__ptile", cells.tile_id(F.col(lon), F.col(lat), zoom))
    rt = right.withColumn("__rtile", cells.tile_id(F.col(rlon), F.col(rlat), zoom))
    cand = (
        ring_candidates(lt, row_ring, zoom)
        .join(rt, F.col("__ctile") == F.col("__rtile"), "inner")
        .withColumn(
            "dist_m", spark_col(haversine_sql(lat, lon, rlat, rlon))
        )
        .where(F.col("dist_m") <= F.lit(max_distance_m))
        .drop("__ptile", "__rtile", "__ctile")
    )
    if k >= 2**31 - 1:
        # unbounded k = plain ε-range join: ranking every pair would add a
        # full shuffle+sort of the entire pair set for a column nobody reads
        return cand.withColumn("rank", F.lit(None).cast("int"))
    w = Window.partitionBy(left_id).orderBy(F.col("dist_m").asc(), F.col(right_id).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
