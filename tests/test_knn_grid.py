"""knn_grid (one lazy seed-ring / bound-ring plan) must equal the exact
broadcast kernel without firing jobs at construction, ring_candidates must
emit exactly each row's Chebyshev ring of tiles, and embedding near-dup
pairs must be valid."""

import itertools

import numpy as np
from pyspark.sql import functions as F

from giga_spatial_spark import synth
from giga_spatial_spark.geometry import haversine_np
from giga_spatial_spark.operators.dedup import embedding_near_dup_pairs
from giga_spatial_spark.operators.knn import (
    knn_broadcast, knn_grid, ring_candidates, topk_neighbors,
)

from .conftest import SF_DIR


def _docs_and_facilities(spark):
    pts = synth.with_coords(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
    ).select("doc_id", "lon", "lat")
    return pts, synth.facilities_df(spark, SF_DIR)


def _nearest(df, point_id):
    return (
        df.select(point_id, "nearest_facility_id",
                  F.round("nearest_dist_m", 3).alias("d"))
        .toPandas()
        .set_index(point_id)
        .sort_index()
    )


def test_knn_grid_equals_broadcast(spark):
    pts, fac = _docs_and_facilities(spark)
    exact = _nearest(knn_broadcast(pts, fac, point_id="doc_id"), "doc_id")
    # zoom 5 is the board's (q_knn_grid) default
    for zoom in (4, 5):
        grid = _nearest(knn_grid(pts, fac, point_id="doc_id", zoom=zoom), "doc_id")
        assert len(grid) == len(exact)
        assert (grid["d"] == exact["d"]).all()
        # ties (equidistant facilities) are broken identically
        assert (grid["nearest_facility_id"] == exact["nearest_facility_id"]).all()


def test_knn_grid_far_points_never_broadcast(spark, monkeypatch):
    """Points half a world from every facility need the whole grid; the
    answer must still come from the grid plan alone, never from a
    knn_broadcast fallback, which refuses fact-sized facility layers —
    the only layers views.map_nearest_points sends to knn_grid."""
    from giga_spatial_spark.operators import knn

    fac = spark.createDataFrame(
        [(i, 0.3 * i - 1.5, 0.2 * i - 1.0) for i in range(10)],
        "facility_id long, flon double, flat double",
    )
    pts = spark.createDataFrame(
        [(j, 179.0 + 0.04 * j, -60.0 + j) for j in range(20)],
        "id long, lon double, lat double",
    )
    exact = _nearest(knn_broadcast(pts, fac), "id")
    monkeypatch.setattr(knn, "BROADCAST_FACILITY_LIMIT", 3)
    grid = _nearest(knn.knn_grid(pts, fac), "id")
    assert len(grid) == len(exact) == 20
    assert (grid["d"] == exact["d"]).all()
    assert (grid["nearest_facility_id"] == exact["nearest_facility_id"]).all()


def test_knn_grid_polar_points_reach_over_the_pole(spark):
    """Near a pole the nearest facility can lie half a world away in
    longitude but just across the pole, outside every ring a ground-extent
    band bound would pick. P = (0°, 85°): F1 = (0°, 74.5°) is 1167.5 km
    away in the seed ring, F2 = (179.9°, 85°) is 1111.9 km away 15 tile
    columns over at zoom 5. Likewise Q = (0°, 89°) with F3 = (0°, 86°)
    333.6 km away in its own tile and F4 = (180°, 89°) 222.4 km away
    across the pole."""
    fac = spark.createDataFrame(
        [(1, 0.0, 74.5), (2, 179.9, 85.0), (3, 0.0, 86.0), (4, 180.0, 89.0)],
        "facility_id long, flon double, flat double",
    )
    for p, q_fac in (((0.0, 85.0), [1, 2]), ((0.0, 89.0), [3, 4])):
        pts = spark.createDataFrame([(0, *p)], "id long, lon double, lat double")
        f = fac.where(F.col("facility_id").isin(q_fac))
        exact = _nearest(knn_broadcast(pts, f), "id")
        assert exact["nearest_facility_id"].tolist() == [q_fac[1]]
        grid = _nearest(knn_grid(pts, f, zoom=5), "id")
        assert grid.equals(exact)


def test_knn_grid_equals_broadcast_at_high_latitudes(spark):
    """Random points and sparse facilities poleward of 60° in both
    hemispheres, at zooms 3-5, against the exact broadcast kernel."""
    rng = np.random.default_rng(7)

    def rows(k):
        lat = rng.uniform(60.0, 90.0, k) * rng.choice([-1.0, 1.0], k)
        return [(i, float(x), float(y))
                for i, (x, y) in enumerate(zip(rng.uniform(-180, 180, k), lat))]

    pts = spark.createDataFrame(rows(300), "id long, lon double, lat double")
    fac = spark.createDataFrame(rows(12), "facility_id long, flon double, flat double")
    exact = _nearest(knn_broadcast(pts, fac), "id")
    for zoom in (3, 4, 5):
        grid = _nearest(knn_grid(pts, fac, zoom=zoom), "id")
        assert grid.equals(exact), zoom


def test_topk_neighbors_reach_over_the_pole(spark):
    """ε-range and top-k pairs near both poles equal a brute-force pair
    list. (0°, 89.9°) and (180°, 89.9°) are 22.2 km apart, 8 tile columns
    apart at zoom 4: a ring sized by the ground extent of a tile alone
    misses them at ε = 50 km."""
    rng = np.random.default_rng(11)

    def rows(k):
        lat = rng.uniform(88.5, 90.0, k) * rng.choice([-1.0, 1.0], k)
        return [(0, 89.9), (180, 89.9)] + list(zip(rng.uniform(-180, 180, k), lat))

    left, right = rows(150), rows(150)
    (llon, llat), (rlon, rlat) = np.array(left).T, np.array(right).T
    d = haversine_np(llat[:, None], llon[:, None], rlat[None, :], rlon[None, :])
    eps = 50_000.0
    near = set(zip(*np.nonzero(d <= eps)))
    assert (0, 1) in near and d[0, 1] < 22_300
    top2 = {(i, j) for i in range(len(left))
            for j in sorted(np.nonzero(d[i] <= eps)[0], key=lambda j: (d[i, j], j))[:2]}
    lt = spark.createDataFrame([(i, float(x), float(y))
                                for i, (x, y) in enumerate(left)],
                               "id long, lon double, lat double")
    rt = spark.createDataFrame([(j, float(x), float(y))
                                for j, (x, y) in enumerate(right)],
                               "facility_id long, flon double, flat double")
    for k, want in ((2**31 - 1, near), (2, top2)):
        got = topk_neighbors(lt, rt, k=k, max_distance_m=eps, zoom=4)
        assert {(r.id, r.facility_id) for r in got.collect()} == want, k


def _chebyshev_ring(px, py, ring, n):
    """Independent enumeration: tiles within Chebyshev distance ``ring``
    of (px, py), longitude wrapping, latitude clipped to the grid."""
    x, y = np.meshgrid(np.arange(n), np.arange(n))
    dx = np.abs(x - px)
    keep = (np.minimum(dx, n - dx) <= ring) & (np.abs(y - py) <= ring)
    return sorted(((x[keep] << 32) + y[keep]).tolist())


def test_ring_candidates_match_enumeration(spark):
    for zoom in range(2, 7):
        n = 2**zoom
        rings = (
            range(n + 1) if n <= 8
            else sorted({0, 1, 2, n // 2 - 1, n // 2, n // 2 + 1, n - 1, n})
        )
        # polar rows (y = 0, n-1), antimeridian columns (x = 0, n-1), interior
        tiles = [(0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0),
                 (n // 2, n // 2), (n - 1, n // 2), (0, 1)]
        rows = [(i, (px << 32) + py, r)
                for i, ((px, py), r) in enumerate(itertools.product(tiles, rings))]
        df = spark.createDataFrame(rows, "rid long, __ptile long, ring int")
        # per-row Column ring, then one int ring for every row
        for fixed in (None, n // 2):
            got = (
                ring_candidates(df, F.col("ring") if fixed is None else fixed, zoom)
                .groupBy("rid")
                .agg(F.collect_list("__ctile").alias("c"))
                .toPandas()
                .set_index("rid")["c"]
            )
            assert len(got) == len(rows)
            for rid, tile, r in rows:
                r = r if fixed is None else fixed
                cand = list(got[rid])
                assert len(cand) == len(set(cand)), (zoom, rid)
                assert sorted(cand) == _chebyshev_ring(tile >> 32, tile % 2**32, r, n), (
                    zoom, tile >> 32, tile % 2**32, r
                )


def test_knn_grid_constructs_without_jobs(spark):
    """Building the plan fires no Spark job, and neither does q_knn_grid's
    constructor: its parquet reads take their schemas from the footers."""
    import __spark_entry__ as E

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, build):
        sc.setJobGroup(group, "constructors only")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(tracker.getJobIdsForGroup(group))

    pts, fac = _docs_and_facilities(spark)
    assert jobs("knn-grid-control", lambda: spark.range(3).count())
    assert jobs("knn-grid", lambda: knn_grid(pts, fac, point_id="doc_id")) == []
    assert jobs("q-knn-grid", lambda: E.q_knn_grid(spark, SF_DIR)) == []


def test_embedding_near_dup_validity(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(emb, threshold=0.5).toPandas()
    pdf = emb.toPandas().set_index("vec_id")
    for row in pairs.itertuples():
        va = np.asarray(pdf.loc[row.a, "embedding"], dtype=np.float64)
        vb = np.asarray(pdf.loc[row.b, "embedding"], dtype=np.float64)
        true = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert true >= 0.5 and abs(true - row.cosine) < 1e-3
    assert (pairs["a"] < pairs["b"]).all()
    assert not pairs.duplicated(["a", "b"]).any()


def test_knn_broadcast_size_guard(spark, monkeypatch):
    """A fact-sized facility table must raise (pointing at knn_grid)
    BEFORE any driver collect — the probe is a truncated JVM count."""
    import pytest

    from giga_spatial_spark.operators import knn

    fac = synth.facilities_df(spark, SF_DIR)
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lon double, lat double")
    monkeypatch.setattr(knn, "BROADCAST_FACILITY_LIMIT", 3)
    with pytest.raises(ValueError, match="knn_grid"):
        knn.knn_broadcast(pts, fac, point_id="id")
