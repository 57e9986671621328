"""Geodesic H3 grid — from-scratch implementation of the PUBLIC H3 spec.

The reference's primary zonal grid is true H3 (gigaspatial/grid/h3.py:
347-369 latlng_to_cell, 150-196 polyfill, 257-273 res stats) via the `h3`
library, which does not exist in this container. This module implements the
published H3 cell-indexing algorithm itself (h3geo.org spec; Apache-2.0
reference algorithm by Uber), so cell ids are REAL H3 indexes a user can
join against externally H3-indexed data:

  - icosahedron face lookup (max dot product over the 20 published face
    centers), gnomonic projection onto the face plane,
  - aperture-7 hex lattice rounding + Class II/III up-aperture digit
    extraction per resolution,
  - base-cell lookup and canonical-orientation rotation, with the full
    pentagon handling (deleted K-axis subsequence, clockwise-offset faces),
  - the standard H3 index bit layout (mode 1, res, base cell, 3-bit digits).

Tables: only the three PUBLISHED spec constants are transcribed — the 20
icosahedron face centers, the 20×3 face axis azimuths (Class II i/j/k),
and the 122-entry base-cell home-coordinate table. The 20×3×3×3 per-face
slot tables (base cell + canonical-orientation rotation for every res-0
lattice slot of every face — 540 derived entries in the reference
algorithm) are NOT transcribed: they are DERIVED at import by geometric
self-calibration (_build_slot_tables): each slot is matched to the nearest
base-cell center, and the orientation is solved by generating descendant
cells through the (table-free) inverse path and finding the unique
rotation that reconciles raw face digits with canonical digits. This keeps
the hand-entered surface small and machine-checks it: an inconsistent
entry fails calibration loudly at import.

Verified against published doc examples (e.g. geo (37.7752702151959,
-122.4183072708370) at res 9 → 8928308280fffff) and structural invariants
(122/842/5882 cells at res 0/1/2, 12 pentagons per res, sphere partition)
in tests/test_cells_h3.py.
"""

from __future__ import annotations

import math

import numpy as np

# ----------------------------------------------------------------- spec
# constants (published H3 spec values)

M_SQRT7 = 2.6457513110645905905016157536392604257102
M_SIN60 = 0.8660254037844386467637231707529361834714
M_AP7_ROT_RADS = 0.333473172251832115336090755351601070065900389  # asin(sqrt(3/28))
RES0_U_GNOMONIC = 0.38196601125010500003
EARTH_RADIUS_KM = 6371.007180918475
MAX_RES = 15

# 20 icosahedron face centers, (lat, lng) radians — published spec table
FACE_CENTER_GEO = np.array([
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253507838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615),
])

# 20×3 face axis azimuths (Class II; i/j/k axes) — published spec table
FACE_AXES_AZ = np.array([
    (5.619958268523939882, 3.525563166130744542, 1.431168063737548730),
    (5.760339081714187279, 3.665943979320991689, 1.571548876927795877),
    (0.780213654393430055, 4.969003859179821079, 2.874608756786625655),
    (0.430469363979999913, 4.619259568766391033, 2.524864466373195467),
    (6.130269123335111400, 4.035874020941915804, 1.941478918548720291),
    (2.692877706530642877, 0.598482604137447119, 4.787272808923838195),
    (2.982963003477243874, 0.888567901084048369, 5.077358105870439581),
    (3.532912002790141181, 1.438516900396945656, 5.627307105183336758),
    (3.494305004259568154, 1.399909901866372864, 5.588700106652763840),
    (3.003214169499538391, 0.908819067106342928, 5.097609271892733906),
    (5.930472956509811562, 3.836077854116615875, 1.741682751723420374),
    (0.138378484090254847, 4.327168688876645809, 2.232773586483450311),
    (0.448714947059150361, 4.637505151845541521, 2.543110049452346023),
    (0.158629650112549365, 4.347419854898940135, 2.253024752505744637),
    (5.891865957979238535, 3.797470855586042958, 1.703075753192847583),
    (2.711123289609793325, 0.616728187216597771, 4.805518392002988683),
    (3.294508837434268316, 1.200113735041072948, 5.388903939827463860),
    (3.804819692245439833, 1.710424589852244509, 5.899214794638635421),
    (3.664438879055192436, 1.570043776661997111, 5.758833981448388023),
    (2.361378999196363184, 0.266983896803167583, 4.455774101589558636),
])

# 122 base cells: (home face, home i, home j, home k, is_pentagon,
# cw-offset face 1, cw-offset face 2) — published spec table
BASE_CELL_DATA = [
    (1, 1, 0, 0, 0, -1, -1), (2, 1, 1, 0, 0, -1, -1), (1, 0, 0, 0, 0, -1, -1),
    (2, 1, 0, 0, 0, -1, -1), (0, 2, 0, 0, 1, -1, -1), (1, 1, 1, 0, 0, -1, -1),
    (1, 0, 0, 1, 0, -1, -1), (2, 0, 0, 0, 0, -1, -1), (0, 1, 0, 0, 0, -1, -1),
    (2, 0, 1, 0, 0, -1, -1), (1, 0, 1, 0, 0, -1, -1), (1, 0, 1, 1, 0, -1, -1),
    (3, 1, 0, 0, 0, -1, -1), (3, 1, 1, 0, 0, -1, -1), (11, 2, 0, 0, 1, 2, 6),
    (4, 1, 0, 0, 0, -1, -1), (0, 0, 0, 0, 0, -1, -1), (6, 0, 1, 0, 0, -1, -1),
    (0, 0, 0, 1, 0, -1, -1), (2, 0, 1, 1, 0, -1, -1), (7, 0, 0, 1, 0, -1, -1),
    (2, 0, 0, 1, 0, -1, -1), (0, 1, 1, 0, 0, -1, -1), (6, 0, 0, 1, 0, -1, -1),
    (10, 2, 0, 0, 1, 1, 5), (6, 0, 0, 0, 0, -1, -1), (3, 0, 0, 0, 0, -1, -1),
    (11, 1, 0, 0, 0, -1, -1), (4, 1, 1, 0, 0, -1, -1), (3, 0, 1, 0, 0, -1, -1),
    (0, 0, 1, 1, 0, -1, -1), (4, 0, 0, 0, 0, -1, -1), (5, 0, 1, 0, 0, -1, -1),
    (0, 0, 1, 0, 0, -1, -1), (7, 0, 1, 0, 0, -1, -1), (11, 1, 1, 0, 0, -1, -1),
    (7, 0, 0, 0, 0, -1, -1), (10, 1, 0, 0, 0, -1, -1), (12, 2, 0, 0, 1, 3, 7),
    (6, 1, 0, 1, 0, -1, -1), (7, 1, 0, 1, 0, -1, -1), (4, 0, 0, 1, 0, -1, -1),
    (3, 0, 0, 1, 0, -1, -1), (3, 0, 1, 1, 0, -1, -1), (4, 0, 1, 0, 0, -1, -1),
    (6, 1, 0, 0, 0, -1, -1), (11, 0, 0, 0, 0, -1, -1), (8, 0, 0, 1, 0, -1, -1),
    (5, 0, 0, 1, 0, -1, -1), (14, 2, 0, 0, 1, 0, 9), (5, 0, 0, 0, 0, -1, -1),
    (12, 1, 0, 0, 0, -1, -1), (10, 1, 1, 0, 0, -1, -1), (4, 0, 1, 1, 0, -1, -1),
    (12, 1, 1, 0, 0, -1, -1), (7, 1, 0, 0, 0, -1, -1), (11, 0, 1, 0, 0, -1, -1),
    (10, 0, 0, 0, 0, -1, -1), (13, 2, 0, 0, 1, 4, 8), (10, 0, 0, 1, 0, -1, -1),
    (11, 0, 0, 1, 0, -1, -1), (9, 0, 1, 0, 0, -1, -1), (8, 0, 1, 0, 0, -1, -1),
    (6, 2, 0, 0, 1, 11, 15), (8, 0, 0, 0, 0, -1, -1), (9, 0, 0, 1, 0, -1, -1),
    (14, 1, 0, 0, 0, -1, -1), (5, 1, 0, 1, 0, -1, -1), (16, 0, 1, 1, 0, -1, -1),
    (8, 1, 0, 1, 0, -1, -1), (5, 1, 0, 0, 0, -1, -1), (12, 0, 0, 0, 0, -1, -1),
    (7, 2, 0, 0, 1, 12, 16), (12, 0, 1, 0, 0, -1, -1), (10, 0, 1, 0, 0, -1, -1),
    (9, 0, 0, 0, 0, -1, -1), (13, 1, 0, 0, 0, -1, -1), (16, 0, 0, 1, 0, -1, -1),
    (15, 0, 1, 1, 0, -1, -1), (15, 0, 1, 0, 0, -1, -1), (16, 0, 1, 0, 0, -1, -1),
    (14, 1, 1, 0, 0, -1, -1), (13, 1, 1, 0, 0, -1, -1), (5, 2, 0, 0, 1, 10, 19),
    (8, 1, 0, 0, 0, -1, -1), (14, 0, 0, 0, 0, -1, -1), (9, 1, 0, 1, 0, -1, -1),
    (14, 0, 0, 1, 0, -1, -1), (17, 0, 0, 1, 0, -1, -1), (12, 0, 0, 1, 0, -1, -1),
    (16, 0, 0, 0, 0, -1, -1), (17, 0, 1, 1, 0, -1, -1), (15, 0, 0, 1, 0, -1, -1),
    (16, 1, 0, 1, 0, -1, -1), (9, 1, 0, 0, 0, -1, -1), (15, 0, 0, 0, 0, -1, -1),
    (13, 0, 0, 0, 0, -1, -1), (8, 2, 0, 0, 1, 13, 17), (13, 0, 1, 0, 0, -1, -1),
    (17, 1, 0, 1, 0, -1, -1), (19, 0, 1, 0, 0, -1, -1), (14, 0, 1, 0, 0, -1, -1),
    (19, 0, 1, 1, 0, -1, -1), (17, 0, 1, 0, 0, -1, -1), (13, 0, 0, 1, 0, -1, -1),
    (17, 0, 0, 0, 0, -1, -1), (16, 1, 0, 0, 0, -1, -1), (9, 2, 0, 0, 1, 14, 18),
    (15, 1, 0, 1, 0, -1, -1), (15, 1, 0, 0, 0, -1, -1), (18, 0, 1, 1, 0, -1, -1),
    (18, 0, 0, 1, 0, -1, -1), (19, 0, 0, 1, 0, -1, -1), (17, 1, 0, 0, 0, -1, -1),
    (19, 0, 0, 0, 0, -1, -1), (18, 0, 1, 0, 0, -1, -1), (18, 1, 0, 1, 0, -1, -1),
    (19, 2, 0, 0, 1, -1, -1), (19, 1, 0, 0, 0, -1, -1), (18, 0, 0, 0, 0, -1, -1),
    (19, 1, 0, 1, 0, -1, -1), (18, 1, 0, 0, 0, -1, -1),
]
NUM_BASE_CELLS = 122
PENTAGONS = np.array([b[4] for b in BASE_CELL_DATA], dtype=bool)

# digit direction unit vectors (CENTER, K, J, JK, I, IK, IJ)
UNIT_VECS = np.array([
    (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1),
    (1, 0, 0), (1, 0, 1), (1, 1, 0),
], dtype=np.int64)

# 60° digit rotations (derived once from _ijk_rotate on the unit vectors)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int64)  # d -> ccw(d)
_ROT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)   # d -> cw(d)
K_DIGIT, IK_DIGIT, INVALID_DIGIT = 1, 5, 7


# -------------------------------------------------------------- ijk math
def _ijk_normalize(ijk: np.ndarray) -> np.ndarray:
    return ijk - ijk.min(axis=-1, keepdims=True)


_DOWN_AP7 = np.array([[3, 0, 1], [1, 3, 0], [0, 1, 3]], dtype=np.int64)
_DOWN_AP7R = np.array([[3, 1, 0], [0, 3, 1], [1, 0, 3]], dtype=np.int64)


def _down_ap7(ijk: np.ndarray, rev: bool) -> np.ndarray:
    m = _DOWN_AP7R if rev else _DOWN_AP7
    return _ijk_normalize(ijk @ m)


def _ijk_to_hex2d(ijk: np.ndarray):
    i = ijk[..., 0] - ijk[..., 2]
    j = ijk[..., 1] - ijk[..., 2]
    return i - 0.5 * j, j * M_SIN60


def _hex2d_to_ijk(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Hex lattice rounding — the published reference rounding algorithm
    (axis-fold form), vectorized. Determines which hexagon contains (x,y)."""
    a1, a2 = np.abs(x), np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(np.int64)
    m2 = np.floor(x2).astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    i = np.zeros_like(m1)
    j = np.zeros_like(m2)
    # r1 < 0.5 branch
    b_a = r1 < 0.5
    b_a1 = b_a & (r1 < 1.0 / 3.0)
    i = np.where(b_a1, m1, i)
    j = np.where(b_a1, np.where(r2 < (1.0 + r1) / 2.0, m2, m2 + 1), j)
    b_a2 = b_a & ~b_a1
    j = np.where(b_a2, np.where(r2 < (1.0 - r1), m2, m2 + 1), j)
    i = np.where(
        b_a2,
        np.where(((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, m1),
        i,
    )
    # r1 >= 0.5 branch
    b_b = ~b_a
    b_b1 = b_b & (r1 < 2.0 / 3.0)
    j = np.where(b_b1, np.where(r2 < (1.0 - r1), m2, m2 + 1), j)
    i = np.where(
        b_b1,
        np.where((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1), m1, m1 + 1),
        i,
    )
    b_b2 = b_b & ~b_b1
    i = np.where(b_b2, m1 + 1, i)
    j = np.where(b_b2, np.where(r2 < r1 / 2.0, m2, m2 + 1), j)

    # fold back across the axes for negative x / y
    neg_x = x < 0.0
    j_even = (j % 2) == 0
    axisi = np.where(j_even, j // 2, (j + 1) // 2)
    diff = i - axisi
    i = np.where(neg_x, i - 2 * diff - np.where(j_even, 0, 1), i)
    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)
    k = np.zeros_like(i)
    return _ijk_normalize(np.stack([i, j, k], axis=-1))


# ------------------------------------------------------------- sphere math
def _geo_to_vec(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)], axis=-1)


def _pos_angle(a: np.ndarray) -> np.ndarray:
    tau = 2.0 * math.pi
    return np.where(a < 0.0, a + tau, np.where(a >= tau, a - tau, a))


def _azimuth(lat1, lng1, lat2, lng2):
    return np.arctan2(
        np.cos(lat2) * np.sin(lng2 - lng1),
        np.cos(lat1) * np.sin(lat2)
        - np.sin(lat1) * np.cos(lat2) * np.cos(lng2 - lng1),
    )


def _az_distance_point(lat0, lng0, az, dist):
    """Destination point at (azimuth, angular distance) from (lat0, lng0)."""
    lat = np.arcsin(
        np.clip(
            np.sin(lat0) * np.cos(dist)
            + np.cos(lat0) * np.sin(dist) * np.cos(az),
            -1.0, 1.0,
        )
    )
    lng = lng0 + np.arctan2(
        np.sin(az) * np.sin(dist) * np.cos(lat0),
        np.cos(dist) - np.sin(lat0) * np.sin(lat),
    )
    return lat, ((lng + math.pi) % (2.0 * math.pi)) - math.pi


_FACE_VEC = _geo_to_vec(FACE_CENTER_GEO[:, 0], FACE_CENTER_GEO[:, 1])


def _closest_face(vec: np.ndarray) -> np.ndarray:
    return np.argmax(vec @ _FACE_VEC.T, axis=-1)


def _face_bases() -> tuple[np.ndarray, np.ndarray]:
    """Per-face tangent-plane basis (e1, e2) such that the gnomonic image
    of a point v, p = v/⟨v,f⟩ − f (which has |p| = tan(angular distance)
    by construction), satisfies x = ⟨p,e1⟩, y = ⟨p,e2⟩ in the Class II
    hex frame — i.e. e1 points along azimuth az0 (θ=0) and e2 90° ccw
    (θ=+π/2, which is azimuth az0 − π/2). Lets the forward path skip
    per-point tan/acos/atan2 entirely."""
    lat = FACE_CENTER_GEO[:, 0]
    lng = FACE_CENTER_GEO[:, 1]
    # local north/east unit vectors at each face center
    north = np.stack(
        [-np.sin(lat) * np.cos(lng), -np.sin(lat) * np.sin(lng), np.cos(lat)],
        axis=-1,
    )
    east = np.stack(
        [-np.sin(lng), np.cos(lng), np.zeros_like(lng)], axis=-1
    )
    az0 = FACE_AXES_AZ[:, 0][:, None]
    e1 = north * np.cos(az0) + east * np.sin(az0)
    e2 = north * np.cos(az0 - math.pi / 2) + east * np.sin(az0 - math.pi / 2)
    return e1, e2


_FACE_E1, _FACE_E2 = _face_bases()
# Class III frames are the Class II frames rotated by +M_AP7_ROT_RADS
# (θ' = θ − rot ⇔ basis rotated ccw by rot within the plane)
_C3 = math.cos(M_AP7_ROT_RADS)
_S3 = math.sin(M_AP7_ROT_RADS)
_FACE_E1_III = _C3 * _FACE_E1 + _S3 * _FACE_E2
_FACE_E2_III = -_S3 * _FACE_E1 + _C3 * _FACE_E2


def _geo_to_hex2d_tangent(lat, lng, res: int, face=None):
    """Tangent-plane formulation: p = v/⟨v,f⟩ − f has |p| = tan(angular
    distance) by construction, so projecting onto the precomputed face
    bases needs no per-point tan/acos/atan2. This is the algebra the
    DuckDB twin replays (fewer libm divergence sources); equivalence with
    the trig formulation is ~3e-13 relative (asserted in tests). The
    numpy KERNEL uses the trig form (measured faster — numpy trig beats
    the extra gather/array passes here)."""
    cl = np.cos(lat)
    vx = cl * np.cos(lng)
    vy = cl * np.sin(lng)
    vz = np.sin(lat)
    if face is None:
        face = np.argmax(
            np.stack([vx, vy, vz], axis=-1) @ _FACE_VEC.T, axis=-1
        )
    fvx = _FACE_VEC[face, 0]
    fvy = _FACE_VEC[face, 1]
    fvz = _FACE_VEC[face, 2]
    d = vx * fvx + vy * fvy + vz * fvz
    px = vx / d - fvx
    py = vy / d - fvy
    pz = vz / d - fvz
    E1 = _FACE_E1_III if res % 2 == 1 else _FACE_E1
    E2 = _FACE_E2_III if res % 2 == 1 else _FACE_E2
    scale = (M_SQRT7 ** res) / RES0_U_GNOMONIC
    x = (px * E1[face, 0] + py * E1[face, 1] + pz * E1[face, 2]) * scale
    y = (px * E2[face, 0] + py * E2[face, 1] + pz * E2[face, 2]) * scale
    return face, x, y


def _geo_to_hex2d(lat, lng, res: int, face=None):
    """(lat, lng) radians → (face, x, y) on the face's res-`res` hex
    plane (published trig formulation — azimuth/θ/tan)."""
    vec = _geo_to_vec(lat, lng)
    if face is None:
        face = _closest_face(vec)
    fc_lat = FACE_CENTER_GEO[face, 0]
    fc_lng = FACE_CENTER_GEO[face, 1]
    dot = np.clip(np.einsum("...k,...k->...", vec, _FACE_VEC[face]), -1.0, 1.0)
    r = np.arccos(dot)
    az = _pos_angle(_azimuth(fc_lat, fc_lng, lat, lng))
    theta = _pos_angle(FACE_AXES_AZ[face, 0] - az)
    if res % 2 == 1:  # Class III
        theta = _pos_angle(theta - M_AP7_ROT_RADS)
    rr = np.tan(r) / RES0_U_GNOMONIC * (M_SQRT7 ** res)
    return face, rr * np.cos(theta), rr * np.sin(theta)


def _hex2d_to_geo(face, x, y, res: int):
    """(face, x, y) on the res-`res` hex plane → (lat, lng) radians."""
    r = np.sqrt(x * x + y * y)
    theta = np.arctan2(y, x)
    rr = np.arctan(r * RES0_U_GNOMONIC / (M_SQRT7 ** res))
    if res % 2 == 1:  # Class III
        theta = theta + M_AP7_ROT_RADS
    az = _pos_angle(FACE_AXES_AZ[face, 0] - theta)
    lat0 = FACE_CENTER_GEO[face, 0]
    lng0 = FACE_CENTER_GEO[face, 1]
    zero = r < 1e-16
    lat, lng = _az_distance_point(lat0, lng0, az, rr)
    return np.where(zero, lat0, lat), np.where(zero, lng0, lng)


# ------------------------------------------------------------ digit helpers
def _leading_nonzero(digits: np.ndarray) -> np.ndarray:
    """First non-zero digit per row (0 if all zero). digits: (n, res)."""
    if digits.shape[1] == 0:
        return np.zeros(digits.shape[0], dtype=np.int64)
    nz = digits != 0
    first = np.argmax(nz, axis=1)
    any_nz = nz.any(axis=1)
    lead = digits[np.arange(digits.shape[0]), first]
    return np.where(any_nz, lead, 0)


def _rotate_pent60ccw_row(digits: list[int]) -> list[int]:
    """_h3RotatePent60ccw: rotate digits ccw, skipping the deleted K-axis
    subsequence (an extra full ccw rotation when the leading digit lands
    on K)."""
    out = list(digits)
    found = False
    for idx in range(len(out)):
        out[idx] = int(_ROT_CCW[out[idx]])
        if not found and out[idx] != 0:
            found = True
            if out[idx] == K_DIGIT:
                out = [int(_ROT_CCW[d]) for d in out]
    return out


# ------------------------------------------------ slot-table self-calibration
_BC_HOME = np.array([b[:4] for b in BASE_CELL_DATA], dtype=np.int64)
_CW_OFFSETS = [(b[5], b[6]) for b in BASE_CELL_DATA]


# ---------------------------------------------- exact cross-face isometries
# Adjacent faces' CLASS II aperture-7 lattices align exactly along the
# shared icosahedron edge, so re-expressing an overaged FaceIJK on the
# neighbor face is an exact integer lattice isometry (rotate60^t about a
# shared vertex). The isometries are DERIVED from geometry: the 12
# icosahedron vertices are the pentagon base-cell centers, each face's 3
# vertices are its 3 nearest pentagon centers, and a vertex's res-0 slot
# on each incident face comes from exact gnomonic projection (vertices lie
# ON the face, where projection is exact).

_ROT60_CCW_M = np.array([[1, 1, 0], [0, 1, 1], [1, 0, 1]], dtype=np.int64)
_ROT60_CW_M = np.array([[1, 0, 1], [1, 1, 0], [0, 1, 1]], dtype=np.int64)


def _ijk_rot60(ijk: np.ndarray, steps: int) -> np.ndarray:
    """Rotate ijk vectors by steps*60° ccw (integer-exact)."""
    out = ijk
    for _ in range(steps % 6):
        out = _ijk_normalize(out @ _ROT60_CCW_M)
    return out


class _FaceTopology:
    """Derived icosahedron topology: per-face vertex slots, edge →
    neighbor face, and the integer lattice isometry across each edge."""

    def __init__(self):
        pent_bcs = np.nonzero(PENTAGONS)[0]
        pent_vec = _BC_VEC[pent_bcs]
        # 3 vertices per face = 3 nearest pentagon centers
        self.face_verts = []  # face -> [3 pentagon indices into pent_bcs]
        for f in range(20):
            d = pent_vec @ _FACE_VEC[f]
            self.face_verts.append(tuple(sorted(np.argsort(-d)[:3].tolist())))
        # vertex slot (res-0 class II ijk) on each incident face
        self.vert_slot = {}  # (face, vert) -> ijk tuple
        for f in range(20):
            for v in self.face_verts[f]:
                bc = pent_bcs[v]
                la, ln = np.array([_BC_LAT[bc]]), np.array([_BC_LNG[bc]])
                _, x, y = _geo_to_hex2d(la, ln, 0, face=np.array([f]))
                ijk = _hex2d_to_ijk(x, y)[0]
                assert tuple(sorted(ijk.tolist())) == (0, 0, 2), (
                    f"vertex slot off-lattice: face {f} vert {v} -> {ijk}"
                )
                self.vert_slot[(f, v)] = tuple(int(c) for c in ijk)
        # edges: (face, frozenset{v1,v2}) -> neighbor face
        self.edge_neighbor = {}
        for f in range(20):
            vs = self.face_verts[f]
            for a in range(3):
                for b in range(a + 1, 3):
                    pair = frozenset((vs[a], vs[b]))
                    for g in range(20):
                        if g != f and pair <= set(self.face_verts[g]):
                            self.edge_neighbor[(f, pair)] = g
        # isometry per (face, edge pair): rotation steps t such that
        # slot_F'(v) == rot60^t(slot_F(v) - slot_F(v1)) + slot_F'(v1)
        self.edge_rot = {}
        for (f, pair), g in self.edge_neighbor.items():
            v1, v2 = sorted(pair)
            a_f = np.array(self.vert_slot[(f, v1)], dtype=np.int64)
            b_f = np.array(self.vert_slot[(f, v2)], dtype=np.int64)
            a_g = np.array(self.vert_slot[(g, v1)], dtype=np.int64)
            b_g = np.array(self.vert_slot[(g, v2)], dtype=np.int64)
            sol = None
            for t in range(6):
                if np.array_equal(
                    _ijk_normalize(
                        _ijk_rot60((b_f - a_f)[None, :], t)[0] + a_g
                    ),
                    _ijk_normalize(b_g),
                ):
                    sol = t
                    break
            if sol is None:
                raise RuntimeError(
                    f"no lattice isometry for faces {f}->{g}"
                )
            self.edge_rot[(f, pair)] = sol


_TOPO = None


def _topo() -> _FaceTopology:
    global _TOPO
    if _TOPO is None:
        _TOPO = _FaceTopology()
    return _TOPO


def _scale_matrix(res_cii: int) -> np.ndarray:
    """Integer matrix taking res-0 ijk coords to class II res `res_cii`
    coords (successive aperture-7 descents, right-multiplied)."""
    m = np.eye(3, dtype=np.int64)
    for r in range(1, res_cii + 1):
        m = m @ (_DOWN_AP7 if r % 2 == 1 else _DOWN_AP7R)
    return m


def _adjust_overage_row(face: int, ijk: np.ndarray, res_cii: int,
                        pent_leading4: bool,
                        substrate: int = 1) -> tuple[int, np.ndarray]:
    """Re-express a (possibly overaged) class II FaceIJK on the face that
    actually contains it, via the derived exact edge isometries. Mirrors
    the reference's overage adjustment incl. the pentagon deleted-sector
    fold (leading digit 4 descendants rotate cw about the pentagon
    vertex before crossing). `substrate` scales the lattice (3 = the
    boundary-vertex substrate grid; translations scale with it)."""
    topo = _topo()
    D = _scale_matrix(res_cii) * substrate
    for _ in range(4):  # corner cases need 2 crossings; 4 is safe margin
        verts = topo.face_verts[face]
        corners_ijk = [
            (np.array(topo.vert_slot[(face, v)], dtype=np.int64)[None, :] @ D)[0]
            for v in verts
        ]
        cx, cy = zip(*[_ijk_to_hex2d(c[None, :]) for c in corners_ijk])
        corners = [(float(a[0]), float(b[0])) for a, b in zip(cx, cy)]
        px, py = _ijk_to_hex2d(ijk[None, :])
        p = (float(px[0]), float(py[0]))
        # find the edge the point lies beyond (vs the opposite corner)
        worst = None
        worst_val = 1e-9
        for a in range(3):
            for b in range(a + 1, 3):
                c3 = 3 - a - b
                ca, cb, cc = corners[a], corners[b], corners[c3]
                ex, ey = cb[0] - ca[0], cb[1] - ca[1]
                side_p = ex * (p[1] - ca[1]) - ey * (p[0] - ca[0])
                side_c = ex * (cc[1] - ca[1]) - ey * (cc[0] - ca[0])
                val = -side_p * np.sign(side_c)
                if val > worst_val:
                    worst_val = val
                    worst = (a, b)
        if worst is None:
            return face, ijk
        if pent_leading4:
            # pentagon deleted-sector fold: rotate cw about the pentagon
            # vertex (home slot {2,0,0} scaled) before re-expressing
            origin = (np.array([[2, 0, 0]], dtype=np.int64) @ D)[0]
            ijk = _ijk_normalize(
                _ijk_rot60((ijk - origin)[None, :], 5)[0] + origin
            )
            pent_leading4 = False
            continue
        a, b = worst
        pair = frozenset((verts[a], verts[b]))
        g = topo.edge_neighbor[(face, pair)]
        t = topo.edge_rot[(face, pair)]
        v1 = sorted(pair)[0]
        a_f = (np.array(topo.vert_slot[(face, v1)], dtype=np.int64)[None, :] @ D)[0]
        Dg = D  # same res scale on the neighbor face
        a_g = (np.array(topo.vert_slot[(g, v1)], dtype=np.int64)[None, :] @ Dg)[0]
        ijk = _ijk_normalize(_ijk_rot60((ijk - a_f)[None, :], t)[0] + a_g)
        face = g
    return face, ijk


def _bc_center_geo():
    """Base-cell centers: home FaceIJK at res 0 → geo (exact: home coords
    are on the home face by definition, no overage)."""
    face = _BC_HOME[:, 0]
    ijk = _BC_HOME[:, 1:4]
    x, y = _ijk_to_hex2d(ijk)
    return _hex2d_to_geo(face, x, y, 0)


_BC_LAT, _BC_LNG = _bc_center_geo()
_BC_VEC = _geo_to_vec(_BC_LAT, _BC_LNG)


def _forward_raw_vec(lat: np.ndarray, lng: np.ndarray, res: int):
    """Vectorized forward to (face, res-0 slot ijk, raw digits (n, res))
    with NO canonical rotation applied — shared by latlng_to_cell and the
    calibration probes. lat/lng radians.

    Hot path: the walk runs in the shift-reduced k≡0 representation —
    digits and slots are invariant under adding a constant to (i, j, k),
    so the per-iteration normalizations of the literal algorithm drop
    out and each aperture step is ~15 flat array passes. lround is
    floor(x+0.5) (exact here — n/7 is never a representable
    half-integer); the digit is encoded directly as 4·di + 2·dj + dk
    (the unit-vector binary code)."""
    face, x, y = _geo_to_hex2d(lat, lng, res)
    ijk0 = _hex2d_to_ijk(x, y)
    # shift-reduce: (i, j, k) ≡ (i−k, j−k, 0)
    i = (ijk0[:, 0] - ijk0[:, 2]).astype(np.float64)
    j = (ijk0[:, 1] - ijk0[:, 2]).astype(np.float64)
    n = lat.shape[0]
    digits = np.zeros((n, res), dtype=np.int64)
    for r in range(res, 0, -1):
        li, lj = i, j
        if r % 2 == 1:  # Class III: up-aperture 7 (ccw)
            i = np.floor((3.0 * li - lj) / 7.0 + 0.5)
            j = np.floor((li + 2.0 * lj) / 7.0 + 0.5)
            # down-aperture 7 center in the k≡0 representation
            ci = 2.0 * i + j
            cj = 3.0 * j - i
        else:  # Class II: up-aperture 7r (cw)
            i = np.floor((2.0 * li + lj) / 7.0 + 0.5)
            j = np.floor((3.0 * lj - li) / 7.0 + 0.5)
            ci = 3.0 * i - j
            cj = i + 2.0 * j
        di = li - ci
        dj = lj - cj
        md = np.minimum(np.minimum(di, dj), 0.0)
        digits[:, r - 1] = (4.0 * di + 2.0 * dj - 7.0 * md).astype(np.int64)
    m = np.minimum(np.minimum(i, j), 0.0)
    slot = np.stack(
        [(i - m), (j - m), (0.0 - m)], axis=-1
    ).astype(np.int64)
    return face, slot, digits


def _apply_canonical(digits: list[int], bc: int, face: int, rot: int) -> list[int]:
    """The reference canonicalization: pentagon K-lead adjustment via the
    cw-offset faces, then `rot` canonical rotations (pentagon-aware)."""
    out = list(digits)
    if PENTAGONS[bc]:
        if _leading_nonzero(np.array([out]))[0] == K_DIGIT:
            if face in _CW_OFFSETS[bc]:
                out = [int(_ROT_CW[d]) for d in out]
            else:
                out = [int(_ROT_CCW[d]) for d in out]
        for _ in range(rot):
            out = _rotate_pent60ccw_row(out)
    else:
        for _ in range(rot):
            out = [int(_ROT_CCW[d]) for d in out]
    return out


def _all_cells_at(res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every cell at `res` as (ids, base cells, digits (n, res)) — pure
    digit enumeration (pentagon K-spine deletion applied)."""
    bcs = [b for b in range(NUM_BASE_CELLS)]
    ids = np.array(
        [
            _pack_index(0, np.array([b]), np.zeros((1, 0), np.int64))[0]
            for b in bcs
        ],
        dtype=np.int64,
    )
    cells = ids
    for r in range(1, res + 1):
        shift = (MAX_RES - r) * 3
        base = cells & ~(np.int64(0x7) << shift)
        base = (base & ~(np.int64(0xF) << 52)) | (np.int64(r) << 52)
        spine = is_pentagon(cells)
        out = []
        for idx in range(cells.shape[0]):
            digs = [0, 2, 3, 4, 5, 6] if spine[idx] else range(7)
            for d in digs:
                out.append(base[idx] | (np.int64(d) << shift))
        cells = np.array(out, dtype=np.int64)
    return cells, get_base_cell(cells), _get_digits(cells, res)


def _exact_centers_vec(bcs: np.ndarray, digits: np.ndarray, res: int):
    """Vectorized table-free exact centers (radians) for (bc, digits)
    rows — the inverse walk + substrate conversion + per-row overage."""
    topo = _topo()
    d = digits.copy()
    pent = PENTAGONS[bcs]
    lead = _leading_nonzero(d) if res > 0 else np.zeros(len(bcs), np.int64)
    if res > 0 and pent.any():
        fix = pent & (lead == IK_DIGIT)
        d[fix] = _ROT_CW[d[fix]]
        lead = _leading_nonzero(d)
    face = _BC_HOME[bcs, 0].copy()
    ijk = _BC_HOME[bcs, 1:4].copy()
    for r in range(1, res + 1):
        ijk = _down_ap7(ijk, rev=(r % 2 == 0))
        ijk = _ijk_normalize(ijk + UNIT_VECS[d[:, r - 1]])
    res_cii = res
    if res % 2 == 1:
        ijk = _down_ap7(ijk, rev=True)
        res_cii = res + 1
    D = _scale_matrix(res_cii)
    x, y = _ijk_to_hex2d(ijk)
    inside = np.zeros(len(bcs), dtype=bool)
    for f in np.unique(face):
        rows = face == f
        verts = topo.face_verts[int(f)]
        corners = []
        for v in verts:
            a, b = _ijk_to_hex2d(
                np.array(topo.vert_slot[(int(f), v)], np.int64)[None, :] @ D
            )
            corners.append((float(a[0]), float(b[0])))
        ok = np.ones(rows.sum(), dtype=bool)
        px, py = x[rows], y[rows]
        for a in range(3):
            for b in range(a + 1, 3):
                c3 = 3 - a - b
                ca, cb, cc = corners[a], corners[b], corners[c3]
                ex, ey = cb[0] - ca[0], cb[1] - ca[1]
                side_p = ex * (py - ca[1]) - ey * (px - ca[0])
                side_c = ex * (cc[1] - ca[1]) - ey * (cc[0] - ca[0])
                ok &= side_p * np.sign(side_c) >= -1e-9
        inside[rows] = ok
    pent4 = pent & (lead == 4) if res > 0 else np.zeros(len(bcs), bool)
    need = ~inside | pent4
    for idx in np.nonzero(need)[0]:
        f2, row2 = _adjust_overage_row(
            int(face[idx]), ijk[idx], res_cii, bool(pent4[idx])
        )
        face[idx] = f2
        ijk[idx] = row2
    x, y = _ijk_to_hex2d(ijk)
    return _hex2d_to_geo(face, x, y, res_cii)


def _build_slot_tables():
    """Derive (base cell, canonical ccw rotation) for every res-0 lattice
    slot of every face, by witness-driven geometric self-calibration:

    enumerate every res-3 cell, compute its EXACT center through the
    table-free inverse path (home digit walk + derived edge isometries),
    forward-project raw face digits for all centers in one vectorized
    pass, then solve each (face, slot) group's unique canonical rotation
    against the known canonical digits. Slots left without witnesses
    escalate to res-4 probes restricted to their base cells; a slot with
    witnesses but no consistent rotation raises (the calibration
    machine-checks the transcribed spec tables at import)."""
    bc_lut = np.full((20, 3, 3, 3), -1, dtype=np.int64)
    rot_lut = np.full((20, 3, 3, 3), -1, dtype=np.int64)

    def ingest(cells, bcs, digits, res):
        lat, lng = _exact_centers_vec(bcs, digits, res)
        face, slot, raw = _forward_raw_vec(lat, lng, res)
        si = np.clip(slot[:, 0], 0, 2)
        sj = np.clip(slot[:, 1], 0, 2)
        sk = np.clip(slot[:, 2], 0, 2)
        keys = ((face * 3 + si) * 3 + sj) * 3 + sk
        order = np.argsort(keys, kind="stable")
        for start in np.split(order, np.nonzero(np.diff(keys[order]))[0] + 1):
            i0 = start[0]
            f, i_, j_, k_ = int(face[i0]), int(si[i0]), int(sj[i0]), int(sk[i0])
            if rot_lut[f, i_, j_, k_] >= 0:
                continue
            bc = int(bcs[i0])
            if not (bcs[start] == bc).all():
                raise RuntimeError(
                    f"H3 calibration: face {f} slot ({i_},{j_},{k_}) claimed "
                    "by multiple base cells — spec tables inconsistent"
                )
            solved = None
            for rot in range(6):
                if all(
                    _apply_canonical(
                        [int(v) for v in raw[idx]], bc, f, rot
                    ) == [int(v) for v in digits[idx]]
                    for idx in start[: min(len(start), 24)]
                ):
                    solved = rot
                    break
            if solved is None:
                raise RuntimeError(
                    f"H3 slot calibration failed: face {f} slot "
                    f"({i_},{j_},{k_}) (base cell {bc}) has no consistent "
                    "canonical rotation — transcribed spec tables are "
                    "inconsistent"
                )
            bc_lut[f, i_, j_, k_] = bc
            rot_lut[f, i_, j_, k_] = solved

    cells, bcs, digits = _all_cells_at(3)
    ingest(cells, bcs, digits, 3)

    # escalate: witness remaining slots with res-4 descendants of the base
    # cells adjacent to them (nearest-center assignment)
    missing = np.argwhere(rot_lut < 0)
    if len(missing):
        cells4, bcs4, digits4 = _all_cells_at(4)
        ingest(cells4, bcs4, digits4, 4)
    # any still-unwitnessed slot is unreachable by forward indexing (its
    # lattice region has no interior on that face); park a nearest-center
    # base cell and rotation 0 — never consulted
    still = rot_lut < 0
    if still.any():
        for f, i_, j_, k_ in np.argwhere(still):
            ijk = _ijk_normalize(np.array([[i_, j_, k_]], dtype=np.int64))[0]
            x, y = _ijk_to_hex2d(ijk[None, :])
            lat, lng = _hex2d_to_geo(np.array([f]), x, y, 0)
            vec = _geo_to_vec(lat, lng)[0]
            bc_lut[f, i_, j_, k_] = int(np.argmax(vec @ _BC_VEC.T))
            rot_lut[f, i_, j_, k_] = 0
    return bc_lut, rot_lut


_BC_LUT = None
_ROT_LUT = None


def _luts_sane(bc: np.ndarray, rot: np.ndarray) -> bool:
    """Integrity gate for cached slot tables: shape/dtype/range checks
    plus one published doc-example probe through the full forward path
    (latlng_to_cell of the H3 docs' (37.7752…, −122.4183…) at res 9 must
    be 8928308280fffff). A stale or pre-seeded cache file fails the
    probe and calibration reruns — a wrong-answer cache can't survive."""
    global _BC_LUT, _ROT_LUT
    if (
        bc.shape != (20, 3, 3, 3)
        or rot.shape != (20, 3, 3, 3)
        or bc.dtype != np.int64
        or rot.dtype != np.int64
        or bc.min() < 0
        or bc.max() > 121
        or rot.min() < 0
        or rot.max() > 5
    ):
        return False
    _BC_LUT, _ROT_LUT = bc, rot
    try:
        h = latlng_to_cell(
            np.array([37.7752702151959]), np.array([-122.4183072708370]), 9
        )
        ok = int(h[0]) == 0x8928308280FFFFF
    except Exception:
        ok = False
    if not ok:
        _BC_LUT = _ROT_LUT = None
    return ok


def _slot_tables():
    """Slot tables, derived once per machine and cached so Spark Python
    workers don't re-run calibration. The cache lives in a user-owned
    directory (~/.cache/spark_graft), is trusted only when owned by us
    and not group/other-writable, and must pass _luts_sane's known-value
    probe before use — a predictable world-writable path would otherwise
    let a pre-seeded file yield silently wrong cell ids."""
    global _BC_LUT, _ROT_LUT
    if _BC_LUT is None:
        import os

        cache_dir = os.path.join(
            os.path.expanduser("~"), ".cache", "spark_graft"
        )
        cache = os.path.join(cache_dir, "h3_luts_v1.npz")
        try:
            st = os.stat(cache)
            if st.st_uid == os.getuid() and not (st.st_mode & 0o022):
                z = np.load(cache)
                if _luts_sane(
                    np.asarray(z["bc"], dtype=np.int64),
                    np.asarray(z["rot"], dtype=np.int64),
                ):
                    return _BC_LUT, _ROT_LUT
        except Exception:
            pass  # missing/corrupt/untrusted cache: rederive
        _BC_LUT, _ROT_LUT = _build_slot_tables()
        try:
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{cache}.tmp.{os.getpid()}.npz"
            np.savez(tmp, bc=_BC_LUT, rot=_ROT_LUT)
            os.chmod(tmp, 0o600)
            os.replace(tmp, cache)
        except OSError:
            pass  # cache is best-effort
    return _BC_LUT, _ROT_LUT


# ------------------------------------------------------------- index layout
def _pack_index(res: int, bc: np.ndarray, digits: np.ndarray) -> np.ndarray:
    """digits: (n, res) → standard H3 int64 (mode 1). Digit packing is a
    single weighted row-sum (weights 8^(15-r)), not 15 shift passes."""
    fill = np.int64(0)
    for r in range(res + 1, MAX_RES + 1):
        fill |= np.int64(INVALID_DIGIT) << ((MAX_RES - r) * 3)
    head = (np.int64(1) << 59) | (np.int64(res) << 52) | fill
    h = head | (bc.astype(np.int64) << 45)
    if res > 0:
        w = np.array(
            [np.int64(1) << ((MAX_RES - r) * 3) for r in range(1, res + 1)],
            dtype=np.int64,
        )
        h = h | (digits * w[None, :]).sum(axis=1, dtype=np.int64)
    return h


def get_resolution(h) -> np.ndarray:
    h = np.asarray(h, dtype=np.int64)
    return (h >> 52) & 0xF


def get_base_cell(h) -> np.ndarray:
    h = np.asarray(h, dtype=np.int64)
    return (h >> 45) & 0x7F


def _get_digits(h: np.ndarray, res: int) -> np.ndarray:
    out = np.empty((h.shape[0], res), dtype=np.int64)
    for r in range(1, res + 1):
        out[:, r - 1] = (h >> ((MAX_RES - r) * 3)) & 0x7
    return out


def is_pentagon(h) -> np.ndarray:
    h = np.asarray(h, dtype=np.int64)
    res = get_resolution(h)
    bc = get_base_cell(h)
    all_zero = np.ones(h.shape, dtype=bool)
    for r in range(1, MAX_RES + 1):
        dig = (h >> ((MAX_RES - r) * 3)) & 0x7
        all_zero &= (dig == 0) | (r > res)
    return PENTAGONS[bc] & all_zero


def h3_to_string(h) -> np.ndarray:
    h = np.asarray(h, dtype=np.int64)
    return np.array([format(int(v) & 0xFFFFFFFFFFFFFFFF, "x") for v in h])


def string_to_h3(s) -> np.ndarray:
    return np.array([np.int64(int(v, 16)) for v in np.asarray(s)], dtype=np.int64)


# ------------------------------------------------------------------ forward
def latlng_to_cell(lat_deg, lng_deg, res: int) -> np.ndarray:
    """(lat, lng) degrees → H3 cell ids (vectorized; the published
    geoToH3 algorithm)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"H3 resolution must be 0..{MAX_RES}, got {res}")
    bc_lut, rot_lut = _slot_tables()
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    scalar = lat.ndim == 0
    lat, lng = np.atleast_1d(lat), np.atleast_1d(lng)
    face, ijk, digits = _forward_raw_vec(lat, lng, res)
    ii = np.clip(ijk[:, 0], 0, 2)
    jj = np.clip(ijk[:, 1], 0, 2)
    kk = np.clip(ijk[:, 2], 0, 2)
    bc = bc_lut[face, ii, jj, kk]
    rot = rot_lut[face, ii, jj, kk]

    # canonical rotations — all vectorized (pentagon rows included)
    pent = PENTAGONS[bc]
    if res > 0:
        rot_pow = np.empty((6, 7), dtype=np.int64)
        rot_pow[0] = np.arange(7)
        for p in range(1, 6):
            rot_pow[p] = _ROT_CCW[rot_pow[p - 1]]
        # flat LUT gather (rot*7 + digit) — one fancy index, no
        # take_along_axis temp
        rot_flat = rot_pow.ravel()
        digits = rot_flat[rot[:, None] * 7 + digits]
        if pent.any():
            # pentagons need the un-rotated digits back for their own path
            inv = np.empty((6, 7), dtype=np.int64)
            for p in range(6):
                inv[p, rot_pow[p]] = np.arange(7)
            digits[pent] = inv.ravel()[
                rot[pent, None] * 7 + digits[pent]
            ]
        if pent.any():
            pd = digits[pent]
            pbc = bc[pent]
            pface = face[pent]
            prot = rot[pent]
            # K-lead adjustment: cw on the cell's cw-offset faces, ccw else
            lead = _leading_nonzero(pd)
            klead = lead == K_DIGIT
            if klead.any():
                cw1 = np.array([_CW_OFFSETS[b][0] for b in pbc])
                cw2 = np.array([_CW_OFFSETS[b][1] for b in pbc])
                is_cw = (pface == cw1) | (pface == cw2)
                rows_cw = klead & is_cw
                rows_ccw = klead & ~is_cw
                pd[rows_cw] = _ROT_CW[pd[rows_cw]]
                pd[rows_ccw] = _ROT_CCW[pd[rows_ccw]]
            # pentagon-aware ccw rotations: rotate all digits; an extra
            # full rotation whenever the leading digit lands on K
            # (zeros are rotation-invariant, so "rotate everything again"
            # equals the reference's mid-scan whole-index rotation)
            for step in range(5):
                todo = prot > step
                if not todo.any():
                    break
                sub = _ROT_CCW[pd[todo]]
                again = _leading_nonzero(sub) == K_DIGIT
                sub[again] = _ROT_CCW[sub[again]]
                pd[todo] = sub
            digits[pent] = pd
    out = _pack_index(res, bc, digits)
    return out[0] if scalar else out


# ------------------------------------------------------------------ inverse
def cell_to_latlng(h) -> tuple[np.ndarray, np.ndarray]:
    """H3 cell ids → (lat, lng) degrees of the cell center (vectorized).

    Exact inverse: home-face digit descent, Class II substrate conversion
    for odd res, and the derived integer edge isometries for cells whose
    walk overages off the home face (interior cells — the vast majority —
    never enter the per-row adjustment loop)."""
    h = np.asarray(h, dtype=np.int64)
    scalar = h.ndim == 0
    h = np.atleast_1d(h)
    res_arr = get_resolution(h)
    out_lat = np.empty(h.shape, dtype=np.float64)
    out_lng = np.empty(h.shape, dtype=np.float64)
    topo = _topo()
    for res in np.unique(res_arr):
        res = int(res)
        m = res_arr == res
        hs = h[m]
        bc = get_base_cell(hs)
        digits = _get_digits(hs, res)
        pent = PENTAGONS[bc]
        lead = _leading_nonzero(digits) if res > 0 else np.zeros(len(hs), np.int64)
        if res > 0 and pent.any():
            fix = pent & (lead == IK_DIGIT)
            digits[fix] = _ROT_CW[digits[fix]]
            lead = _leading_nonzero(digits)
        face = _BC_HOME[bc, 0].copy()
        ijk = _BC_HOME[bc, 1:4].copy()
        for r in range(1, res + 1):
            ijk = _down_ap7(ijk, rev=(r % 2 == 0))
            ijk = _ijk_normalize(ijk + UNIT_VECS[digits[:, r - 1]])
        res_cii = res
        if res % 2 == 1:
            ijk = _down_ap7(ijk, rev=True)
            res_cii = res + 1
        # vectorized face-triangle containment to find overage candidates
        D = _scale_matrix(res_cii)
        x, y = _ijk_to_hex2d(ijk)
        inside = np.zeros(len(hs), dtype=bool)
        for f in np.unique(face):
            rows = face == f
            verts = topo.face_verts[int(f)]
            cs = [
                _ijk_to_hex2d(
                    (np.array(topo.vert_slot[(int(f), v)], np.int64)[None, :] @ D)
                )
                for v in verts
            ]
            corners = [(float(a[0]), float(b[0])) for a, b in cs]
            ok = np.ones(rows.sum(), dtype=bool)
            px, py = x[rows], y[rows]
            for a in range(3):
                for b in range(a + 1, 3):
                    c3 = 3 - a - b
                    ca, cb, cc = corners[a], corners[b], corners[c3]
                    ex, ey = cb[0] - ca[0], cb[1] - ca[1]
                    side_p = ex * (py - ca[1]) - ey * (px - ca[0])
                    side_c = ex * (cc[1] - ca[1]) - ey * (cc[0] - ca[0])
                    ok &= side_p * np.sign(side_c) >= -1e-9
            inside[rows] = ok
        pent4 = pent & (lead == 4) if res > 0 else np.zeros(len(hs), bool)
        need = ~inside | pent4
        for idx in np.nonzero(need)[0]:
            f2, row2 = _adjust_overage_row(
                int(face[idx]), ijk[idx], res_cii, bool(pent4[idx])
            )
            face[idx] = f2
            ijk[idx] = row2
        x, y = _ijk_to_hex2d(ijk)
        lat, lng = _hex2d_to_geo(face, x, y, res_cii)
        out_lat[m] = np.degrees(lat)
        out_lng[m] = np.degrees(lng)
    if scalar:
        return out_lat[0], out_lng[0]
    return out_lat, out_lng


# ---------------------------------------------------------------- hierarchy
def cell_to_parent(h, parent_res: int) -> np.ndarray:
    """Truncate digits past parent_res (the H3 parent is purely a digit
    prefix — no geometry involved)."""
    h = np.asarray(h, dtype=np.int64)
    res = get_resolution(h)
    if np.any(res < parent_res):
        raise ValueError("cell_to_parent: parent_res finer than cell res")
    out = (h & ~(np.int64(0xF) << 52)) | (np.int64(parent_res) << 52)
    for r in range(parent_res + 1, MAX_RES + 1):
        out = out | (np.int64(INVALID_DIGIT) << ((MAX_RES - r) * 3))
    return out


def cell_to_children(h: int, child_res: int) -> np.ndarray:
    """All children at child_res (pentagon children skip the deleted K
    digit along the all-zero spine)."""
    h = int(h)
    res = int(get_resolution(np.array([h]))[0])
    if child_res < res:
        raise ValueError("cell_to_children: child_res coarser than cell")
    cells = np.array([h], dtype=np.int64)
    for r in range(res + 1, child_res + 1):
        shift = (MAX_RES - r) * 3
        base = cells & ~(np.int64(0x7) << shift)
        base = (base & ~(np.int64(0xF) << 52)) | (np.int64(r) << 52)
        spine = is_pentagon(cells)
        out = []
        for idx in range(cells.shape[0]):
            digs = [0, 2, 3, 4, 5, 6] if spine[idx] else list(range(7))
            for d in digs:
                out.append(base[idx] | (np.int64(d) << shift))
        cells = np.array(out, dtype=np.int64)
    return cells


def cell_area_km2(h) -> np.ndarray:
    """Exact spherical area of each cell from its boundary polygon
    (L'Huilier excess), km²."""
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))
    out = np.empty(h.shape, dtype=np.float64)
    for i, hv in enumerate(h):
        verts = cell_to_boundary(int(hv))
        out[i] = _spherical_polygon_area(np.radians(verts)) * EARTH_RADIUS_KM ** 2
    return out


def _spherical_polygon_area(latlng_rad: np.ndarray) -> float:
    """Spherical excess of a polygon given (lat, lng) radians vertices
    (l'Huilier per triangle fan from the centroid direction)."""
    vecs = _geo_to_vec(latlng_rad[:, 0], latlng_rad[:, 1])
    c = vecs.mean(axis=0)
    c = c / np.linalg.norm(c)
    total = 0.0
    n = len(vecs)
    for i in range(n):
        a, b = vecs[i], vecs[(i + 1) % n]
        # spherical triangle (c, a, b) via l'Huilier
        ta = math.acos(np.clip(np.dot(a, b), -1, 1))
        tb = math.acos(np.clip(np.dot(b, c), -1, 1))
        tc = math.acos(np.clip(np.dot(c, a), -1, 1))
        s = (ta + tb + tc) / 2.0
        inner = (
            math.tan(s / 2.0) * math.tan((s - ta) / 2.0)
            * math.tan((s - tb) / 2.0) * math.tan((s - tc) / 2.0)
        )
        e = 4.0 * math.atan(math.sqrt(max(inner, 0.0)))
        # sign from orientation
        sign = 1.0 if np.dot(np.cross(a, b), c) >= 0 else -1.0
        total += sign * e
    return abs(total)


# CCW-adjacent direction pairs whose tripoints are the hexagon corners
_CORNER_PAIRS = [(4, 6), (6, 2), (2, 3), (3, 1), (1, 5), (5, 4)]


def cell_to_boundary(h: int) -> np.ndarray:
    """Cell boundary vertices as (lat, lng) degrees, CCW. EXACT corner
    geometry: corners are integer points of the 3×-scaled Class II
    substrate lattice (center·3 + adjacent-direction pair sum), each
    overage-adjusted onto its own face through the derived edge
    isometries before inverse-projecting — so cross-face cells get the
    reference's corner positions, not extended-gnomonic approximations.
    Pentagon boundaries keep their 5 distinct corners (the two K-sector
    tripoints coincide after the deleted-sector fold)."""
    h = int(h)
    res = int(get_resolution(np.array([h]))[0])
    hs = np.array([h], dtype=np.int64)
    bc = get_base_cell(hs)
    digits = _get_digits(hs, res)
    pent = bool(PENTAGONS[bc[0]])
    lead = int(_leading_nonzero(digits)[0]) if res > 0 else 0
    if res > 0 and pent and lead == IK_DIGIT:
        digits[0] = _ROT_CW[digits[0]]
        lead = int(_leading_nonzero(digits)[0])
    ijk = _BC_HOME[bc, 1:4].copy()
    for r in range(1, res + 1):
        ijk = _down_ap7(ijk, rev=(r % 2 == 0))
        ijk = _ijk_normalize(ijk + UNIT_VECS[digits[:, r - 1]])
    res_cii = res
    odd = res % 2 == 1
    if odd:
        ijk = _down_ap7(ijk, rev=True)
        res_cii = res + 1
    pent4 = pent and res > 0 and lead == 4
    face = int(_BC_HOME[bc[0], 0])
    center_sub = 3 * ijk[0]
    corners = []
    for da, db in _CORNER_PAIRS:
        off = UNIT_VECS[da] + UNIT_VECS[db]
        if odd:
            # corner offsets live in the res-r frame; express in the
            # Class II res+1 frame through the same aperture map
            off = off @ _DOWN_AP7R
        q = _ijk_normalize((center_sub + off)[None, :])[0]
        f2, q2 = _adjust_overage_row(face, q, res_cii, pent4, substrate=3)
        x, y = _ijk_to_hex2d(q2[None, :])
        la, ln = _hex2d_to_geo(
            np.array([f2]), x / 3.0, y / 3.0, res_cii
        )
        qx, qy = _ijk_to_hex2d(q[None, :])
        corners.append(
            (math.degrees(la[0]), math.degrees(ln[0]), f2,
             float(qx[0]), float(qy[0]), q2)
        )
    # distortion vertices: where a boundary segment crosses an icosahedron
    # edge (consecutive corners adjust onto different faces), the true H3
    # boundary kinks. The segment is straight in the FIRST corner's NATIVE
    # face substrate plane: corner a is native there, corner b re-expresses
    # through the derived exact fb→fa edge isometry (Class II lattices of
    # adjacent faces align along the shared edge), and the 2D intersection
    # with fa's triangle edge toward fb projects (via fa's gnomonic, exact
    # on the edge) to the reference kink point. This matters for giant
    # cells whose segments connect two NON-home faces (res-1 pentagons
    # and their neighbors): the home-plane chord there cuts the kink and
    # loses ~2e4 km² per pentagon. Non-adjacent face pairs fall back to
    # the home-plane triangle sweep. Class II segments run along the
    # edges, so the intersection degenerates and is dropped by the
    # endpoint tolerance.
    topo = _topo()
    D3 = _scale_matrix(res_cii) * 3
    verts_home = topo.face_verts[face]
    tri = []
    for v in verts_home:
        a2, b2 = _ijk_to_hex2d(
            np.array(topo.vert_slot[(face, v)], np.int64)[None, :] @ D3
        )
        tri.append((float(a2[0]), float(b2[0])))

    def _seg_edge_hit(ax, ay, bx, by, e1x, e1y, e2x, e2y):
        dx, dy = bx - ax, by - ay
        ex, ey = e2x - e1x, e2y - e1y
        den = dx * ey - dy * ex
        if abs(den) < 1e-12:
            return None
        t = ((e1x - ax) * ey - (e1y - ay) * ex) / den
        s = ((e1x - ax) * dy - (e1y - ay) * dx) / den
        if 1e-9 < t < 1 - 1e-9 and -1e-9 <= s <= 1 + 1e-9:
            return (t, ax + t * dx, ay + t * dy)
        return None

    full = []
    m = len(corners)
    for idx in range(m):
        a = corners[idx]
        b = corners[(idx + 1) % m]
        full.append((a[0], a[1]))
        if a[2] == b[2]:
            continue
        fa, fb = a[2], b[2]
        qa2, qb2 = a[5], b[5]
        kinks = []
        # native-frame path: fa and fb adjacent → one kink on their
        # shared icosahedron edge, computed in fa's substrate plane
        shared = None
        for va in range(3):
            for vb in range(va + 1, 3):
                pr = frozenset(
                    (topo.face_verts[fa][va], topo.face_verts[fa][vb])
                )
                if topo.edge_neighbor.get((fa, pr)) == fb:
                    shared = pr
                    break
            if shared is not None:
                break
        if shared is not None:
            v1 = sorted(shared)[0]
            t_rot = topo.edge_rot[(fb, shared)]  # fb native → fa frame
            a_fb = (
                np.array(topo.vert_slot[(fb, v1)], np.int64)[None, :] @ D3
            )[0]
            a_fa = (
                np.array(topo.vert_slot[(fa, v1)], np.int64)[None, :] @ D3
            )[0]
            qb_in_fa = _ijk_normalize(
                (_ijk_rot60((qb2 - a_fb)[None, :], t_rot)[0] + a_fa)[None, :]
            )[0]
            ax_, ay_ = (float(v[0]) for v in _ijk_to_hex2d(qa2[None, :]))
            bx_, by_ = (float(v[0]) for v in _ijk_to_hex2d(qb_in_fa[None, :]))
            vs = sorted(shared)
            e1 = (np.array(topo.vert_slot[(fa, vs[0])], np.int64)[None, :] @ D3)[0]
            e2 = (np.array(topo.vert_slot[(fa, vs[1])], np.int64)[None, :] @ D3)[0]
            e1x, e1y = (float(v[0]) for v in _ijk_to_hex2d(e1[None, :]))
            e2x, e2y = (float(v[0]) for v in _ijk_to_hex2d(e2[None, :]))
            hit = _seg_edge_hit(ax_, ay_, bx_, by_, e1x, e1y, e2x, e2y)
            if hit is not None:
                _, ix, iy = hit
                la_i, ln_i = _hex2d_to_geo(
                    np.array([fa]), np.array([ix / 3.0]),
                    np.array([iy / 3.0]), res_cii,
                )
                kinks.append((math.degrees(la_i[0]), math.degrees(ln_i[0])))
        if not kinks:
            # fallback: home-plane sweep over the home triangle edges
            ax_, ay_, bx_, by_ = a[3], a[4], b[3], b[4]
            hits = []
            for e in range(3):
                (e1x, e1y), (e2x, e2y) = tri[e], tri[(e + 1) % 3]
                hit = _seg_edge_hit(ax_, ay_, bx_, by_, e1x, e1y, e2x, e2y)
                if hit is not None:
                    hits.append(hit)
            for _, ix, iy in sorted(hits):
                la_i, ln_i = _hex2d_to_geo(
                    np.array([face]), np.array([ix / 3.0]),
                    np.array([iy / 3.0]), res_cii,
                )
                kinks.append((math.degrees(la_i[0]), math.degrees(ln_i[0])))
        full.extend(kinks)
    corners = full
    if pent:
        uniq = []
        for c in corners:
            if not any(
                abs(c[0] - u[0]) < 1e-9 and abs(c[1] - u[1]) < 1e-9 for u in uniq
            ):
                uniq.append(c)
        corners = uniq
    return np.array(corners)


def grid_neighbors(h: int) -> np.ndarray:
    """The adjacent cells of `h` (6 for hexagons, 5 for pentagons) —
    EXACT at every res: probe points are stepped from the cell center
    through each boundary-edge midpoint (both exact geometry), landing
    ~35% past the edge — always inside the neighbor, immune to the
    cross-face gnomonic drift that breaks naive lattice stepping at
    coarse res."""
    h = int(h)
    res = int(get_resolution(np.array([h]))[0])
    lat_c, lng_c = cell_to_latlng(np.array([h], dtype=np.int64))
    cvec = _geo_to_vec(
        np.radians(np.array([lat_c[0]])), np.radians(np.array([lng_c[0]]))
    )[0]
    b = cell_to_boundary(h)
    bvec = _geo_to_vec(np.radians(b[:, 0]), np.radians(b[:, 1]))
    n = len(bvec)
    probes = []
    for i in range(n):
        mid = bvec[i] + bvec[(i + 1) % n]
        mid = mid / np.linalg.norm(mid)
        p = cvec + 1.35 * (mid - cvec)
        p = p / np.linalg.norm(p)
        probes.append(p)
    probes = np.array(probes)
    la = np.degrees(np.arcsin(np.clip(probes[:, 2], -1, 1)))
    ln = np.degrees(np.arctan2(probes[:, 1], probes[:, 0]))
    out = np.unique(latlng_to_cell(la, ln, res))
    return out[out != h]


def grid_disk(h: int, k: int) -> np.ndarray:
    """All cells within grid distance k: BFS over exact single-step
    neighbors (grid_neighbors) — k rings of frontier expansion, correct
    across face edges and around pentagons at every res."""
    h = int(h)
    seen = {h}
    frontier = {h}
    for _ in range(k):
        new: set[int] = set()
        for c in frontier:
            for nb in grid_neighbors(c):
                nb = int(nb)
                if nb not in seen:
                    seen.add(nb)
                    new.add(nb)
        frontier = new
        if not frontier:
            break
    return np.array(sorted(seen), dtype=np.int64)


def segments_cross(
    p1: np.ndarray, p2: np.ndarray, q1: np.ndarray, q2: np.ndarray
) -> bool:
    """Exact 2-d segment intersection (touching counts): standard
    orientation sign tests with the collinear on-segment fallback."""

    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    def on_seg(a, b, c):  # c collinear with a-b: is c within the box?
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    d1, d2 = orient(q1, q2, p1), orient(q1, q2, p2)
    d3, d4 = orient(p1, p2, q1), orient(p1, p2, q2)
    if d1 != d2 and d3 != d4:
        return True
    if d1 == 0 and on_seg(q1, q2, p1):
        return True
    if d2 == 0 and on_seg(q1, q2, p2):
        return True
    if d3 == 0 and on_seg(p1, p2, q1):
        return True
    return d4 == 0 and on_seg(p1, p2, q2)


def _any_segments_cross(P: np.ndarray, Q: np.ndarray) -> bool:
    """Vectorized 'does ANY edge of ring P cross ANY edge of ring Q' —
    the broadcast twin of segments_cross (identical elementwise float
    ops, so identical answers): orientation-sign tests over the full
    n×m edge grid plus the collinear on-segment fallbacks."""
    p1 = P
    p2 = np.roll(P, -1, axis=0)
    q1 = Q
    q2 = np.roll(Q, -1, axis=0)

    def orient(ax, ay, bx, by, cx, cy):
        return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))

    # shapes: p-edges on axis 0 (n,1), q-edges on axis 1 (1,m)
    px1, py1 = p1[:, 0][:, None], p1[:, 1][:, None]
    px2, py2 = p2[:, 0][:, None], p2[:, 1][:, None]
    qx1, qy1 = q1[:, 0][None, :], q1[:, 1][None, :]
    qx2, qy2 = q2[:, 0][None, :], q2[:, 1][None, :]
    d1 = orient(qx1, qy1, qx2, qy2, px1, py1)
    d2 = orient(qx1, qy1, qx2, qy2, px2, py2)
    d3 = orient(px1, py1, px2, py2, qx1, qy1)
    d4 = orient(px1, py1, px2, py2, qx2, qy2)
    if (((d1 != d2) & (d3 != d4))).any():
        return True

    def on_seg(sx1, sy1, sx2, sy2, cx, cy):
        return (
            (np.minimum(sx1, sx2) <= cx) & (cx <= np.maximum(sx1, sx2))
            & (np.minimum(sy1, sy2) <= cy) & (cy <= np.maximum(sy1, sy2))
        )

    touch = (
        ((d1 == 0) & on_seg(qx1, qy1, qx2, qy2, px1, py1))
        | ((d2 == 0) & on_seg(qx1, qy1, qx2, qy2, px2, py2))
        | ((d3 == 0) & on_seg(px1, py1, px2, py2, qx1, qy1))
        | ((d4 == 0) & on_seg(px1, py1, px2, py2, qx2, qy2))
    )
    return bool(touch.any())


def cell_overlaps_polygon(
    bxy: np.ndarray, center_in: bool, poly: np.ndarray
) -> bool:
    """EXACT cell×polygon intersection predicate (reference overlap
    semantics, h3shape_to_cells_experimental): the cell center or any
    cell boundary vertex inside the polygon, any polygon vertex inside
    the cell, or any polygon edge crossing any cell edge — the last
    term catches thin slivers that cross a cell mid-edge without
    containing any vertex of either ring. ``bxy``: cell boundary as
    (lon, lat) rows; treated in the lon/lat plane like every other
    containment in this engine (reference sjoin semantics). The segment
    sweep is numpy-broadcast over the full edge grid (same float ops as
    the scalar segments_cross), so complex real-world polygons with
    thousands of edges cost one vectorized pass per cell, not an
    interpreted double loop."""
    from .geometry import point_in_polygon

    if center_in or point_in_polygon(poly, bxy[:, 0], bxy[:, 1]).any():
        return True
    if point_in_polygon(bxy, poly[:, 0], poly[:, 1]).any():
        return True
    return _any_segments_cross(np.asarray(bxy), np.asarray(poly))


def cell_fully_inside_polygon(
    bxy: np.ndarray, center_in: bool, poly: np.ndarray
) -> bool:
    """EXACT full-containment predicate: every cell vertex (and the
    center) inside the polygon, no polygon vertex inside the cell, and
    no polygon edge crossing any cell edge — the last two terms catch a
    reflex notch dipping INTO the cell while all cell vertices remain
    inside (the vertices-only test wrongly reports such cells as fully
    contained)."""
    from .geometry import point_in_polygon

    if not center_in:
        return False
    if not point_in_polygon(poly, bxy[:, 0], bxy[:, 1]).all():
        return False
    if point_in_polygon(bxy, poly[:, 0], poly[:, 1]).any():
        return False
    return not _any_segments_cross(np.asarray(bxy), np.asarray(poly))


POLYFILL_CELL_LIMIT = 4_000_000  # BFS visit guard (~cover size, not bbox)


def polyfill(
    poly: np.ndarray,
    res: int,
    mode: str = "center",
    max_cells: int = POLYFILL_CELL_LIMIT,
) -> np.ndarray:
    """Cells covering `poly` (lon, lat vertices) under the reference's
    four contain modes (grid/h3.py:150-196 h3shape_to_cells_experimental):
    center (cell center inside — the default/oracle mode), full (EXACT
    containment: every vertex + center inside AND no polygon vertex or
    edge intrudes into the cell — cell_fully_inside_polygon), overlap (EXACT
    cell×polygon intersection: vertex containment both ways + polygon-
    edge × cell-edge segment crossing — cell_overlaps_polygon),
    bbox_overlap (cell lon/lat bbox intersects the polygon bbox).

    Candidates come from a BFS flood fill over exact grid_neighbors
    seeded at the polygon's vertex cells: only cells that intersect the
    region (plus their one-cell dead-end fringe) are ever visited, so
    driver memory is bounded by the COVER size, never the bbox area — a
    country-scale polygon at res 11 no longer allocates a continental
    lattice. Hex grids make the intersecting-cell set edge-connected
    (three cells meet at every corner), so the flood finds all of it.
    Visiting more than ``max_cells`` raises: use a coarser res, or build
    the cover distributed (assign_cells_df over the point table +
    compact_cells_df) instead of a driver-side fill."""
    poly = np.asarray(poly, dtype=np.float64)
    # antimeridian: a ring whose lon span exceeds 180° is (by the usual
    # GIS convention) a ±180-crossing ring; unwrap negative lons to
    # 180..360 so the bbox and ray cast run in a continuous frame (cells
    # are indexed on the wrapped coordinates)
    wrap = (poly[:, 0].max() - poly[:, 0].min()) > 180.0
    if wrap:
        poly = poly.copy()
        poly[:, 0] = np.where(poly[:, 0] < 0.0, poly[:, 0] + 360.0, poly[:, 0])
    lon_min, lat_min = poly.min(axis=0)
    lon_max, lat_max = poly.max(axis=0)
    if mode not in ("center", "full", "overlap", "bbox_overlap"):
        raise ValueError(f"unknown polyfill mode {mode!r}")
    if mode == "bbox_overlap":
        # flood region: the polygon's bbox rectangle (the intersecting
        # set of the BBOX predicate hugs the rectangle, not the polygon)
        region = np.array(
            [
                [lon_min, lat_min], [lon_max, lat_min],
                [lon_max, lat_max], [lon_min, lat_max],
            ]
        )
    else:
        region = poly

    from .geometry import point_in_polygon

    def center_inside(c: int) -> bool:
        la, ln = cell_to_latlng(np.array([c], dtype=np.int64))
        if wrap and ln[0] < 0.0:
            ln = ln + 360.0
        return bool(point_in_polygon(region, ln, la)[0])

    def boundary_xy(c: int) -> np.ndarray:
        b = cell_to_boundary(c)
        xy = np.stack([b[:, 1], b[:, 0]], axis=1)
        if wrap:
            xy[:, 0] = np.where(xy[:, 0] < 0.0, xy[:, 0] + 360.0, xy[:, 0])
        return xy

    def expands(c: int) -> bool:
        """Cell intersects the flood region → BFS continues through it."""
        if mode == "bbox_overlap":
            xy = boundary_xy(c)
            return (
                xy[:, 0].min() <= lon_max and xy[:, 0].max() >= lon_min
                and xy[:, 1].min() <= lat_max and xy[:, 1].max() >= lat_min
            )
        return cell_overlaps_polygon(boundary_xy(c), center_inside(c), region)

    seeds = np.unique(latlng_to_cell(poly[:, 1], poly[:, 0], res))
    seen: set = set()
    frontier: list = []
    for s in seeds.tolist():
        if s not in seen:
            seen.add(s)
            if expands(s):
                frontier.append(s)
    hits: set = set(frontier)
    while frontier:
        if len(seen) > max_cells:
            raise ValueError(
                f"polyfill: BFS visited more than {max_cells:,} cells at "
                f"res {res} — use a coarser resolution, raise max_cells, "
                "or build the cover distributed (assign_cells_df + "
                "compact_cells_df) instead of a driver-side fill"
            )
        nxt: list = []
        for c in frontier:
            for nb in grid_neighbors(c):
                nb = int(nb)
                if nb in seen:
                    continue
                seen.add(nb)
                if expands(nb):
                    hits.add(nb)
                    nxt.append(nb)
        frontier = nxt
    cand = np.array(sorted(hits), dtype=np.int64)
    if mode in ("overlap", "bbox_overlap"):
        return cand  # the flood predicate IS the keep predicate
    keep = []
    for c in cand.tolist():
        cin = center_inside(c)
        if mode == "center":
            keep.append(cin)
        else:  # full: EXACT containment (vertices + no notch intrusion)
            keep.append(
                cell_fully_inside_polygon(boundary_xy(c), cin, region)
            )
    return cand[np.array(keep, dtype=bool)]


def polyfill_df(spark, poly: np.ndarray, res: int, mode: str = "center"):
    """DISTRIBUTED polyfill — the scale path the driver polyfill's
    max_cells guard points at (country-scale polygon × res 11+). The
    ~1/3-cell candidate lattice over the bbox is generated as
    ``spark.range`` (each executor materializes only its own slice —
    the driver never holds a lattice), cells are assigned by the Arrow
    H3 kernel, and the distinct cover is classified per cell inside
    mapInPandas by the SAME exact predicates as the driver fill
    (point-in-polygon / cell_overlaps_polygon). Lattice spacing
    hex_deg/3 < cell inradius guarantees every candidate cell holds a
    lattice point (the driver polyfill's own candidate argument).
    Returns a DataFrame of ``h3_cell``. Modes: center / full /
    overlap."""
    import math as _math

    import pandas as pd
    from pyspark.sql import functions as F

    from .geometry import point_in_polygon

    if mode not in ("center", "full", "overlap"):
        raise ValueError(f"unknown polyfill_df mode {mode!r}")
    poly = np.asarray(poly, dtype=np.float64)
    wrap = (poly[:, 0].max() - poly[:, 0].min()) > 180.0
    if wrap:
        poly = poly.copy()
        poly[:, 0] = np.where(poly[:, 0] < 0.0, poly[:, 0] + 360.0, poly[:, 0])
    lon_min, lat_min = poly.min(axis=0)
    lon_max, lat_max = poly.max(axis=0)
    hex_deg = _math.degrees(RES0_U_GNOMONIC / (M_SQRT7 ** res))
    step = max(hex_deg / 3.0, 1e-7)
    margin = 1.5 * hex_deg
    nx = int(_math.ceil((lon_max - lon_min + 2 * margin) / step)) + 1
    ny = int(_math.ceil((lat_max - lat_min + 2 * margin) / step)) + 1
    lon0, lat0 = lon_min - margin, lat_min - margin
    parts = max(32, min(4096, (nx * ny) // 2_000_000 + 1))
    ids = spark.range(0, nx * ny, 1, parts)
    ix = F.col("id") % nx
    # (id - ix) is exactly divisible by nx, so the double division is
    # exact (a direct id/nx float divide can round UP at huge lattices)
    iy = ((F.col("id") - ix) / F.lit(float(nx))).cast("bigint")
    lon = F.lit(lon0) + ix * F.lit(step)
    lat = F.lit(lat0) + iy * F.lit(step)
    if wrap:
        lon = F.when(lon > 180.0, lon - 360.0).otherwise(lon)
    pts = ids.select(lon.alias("lon"), lat.alias("lat"))
    cover = assign_cells_df(pts, res).select("h3_cell").distinct()

    _poly = poly  # captured by the classifier kernel

    def classify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["h3_cell"].to_numpy(np.int64)
            la, ln = cell_to_latlng(cells)
            if wrap:
                ln = np.where(ln < 0.0, ln + 360.0, ln)
            cin = point_in_polygon(_poly, ln, la)
            if mode == "center":
                yield pdf[cin]
                continue
            keep = np.zeros(len(cells), dtype=bool)
            for i, c in enumerate(cells.tolist()):
                b = cell_to_boundary(int(c))
                xy = np.stack([b[:, 1], b[:, 0]], axis=1)
                if wrap:
                    xy[:, 0] = np.where(
                        xy[:, 0] < 0.0, xy[:, 0] + 360.0, xy[:, 0]
                    )
                if mode == "full":
                    keep[i] = cell_fully_inside_polygon(
                        xy, bool(cin[i]), _poly
                    )
                else:
                    keep[i] = cell_overlaps_polygon(xy, bool(cin[i]), _poly)
            yield pdf[keep]

    return cover.mapInPandas(classify, schema="h3_cell bigint")


def compact(cells: np.ndarray) -> np.ndarray:
    """Multi-res compaction (reference h3.compact_cells, grid/h3.py:
    395-412): replace every complete sibling set (7, or 6 under a
    pentagon spine) with its parent, iterated to a fixed point. Pure
    digit arithmetic."""
    out = set(int(c) for c in np.asarray(cells, dtype=np.int64))
    changed = True
    while changed:
        changed = False
        by_parent: dict[int, list[int]] = {}
        for c in out:
            res = int((c >> 52) & 0xF)
            if res == 0:
                continue
            p = int(cell_to_parent(np.array([c], dtype=np.int64), res - 1)[0])
            by_parent.setdefault(p, []).append(c)
        for p, kids in by_parent.items():
            want = 6 if bool(is_pentagon(np.array([p], dtype=np.int64))[0]) else 7
            if len(kids) == want:
                out.difference_update(kids)
                out.add(p)
                changed = True
    return np.array(sorted(out), dtype=np.int64)


def uncompact(cells: np.ndarray, res: int) -> np.ndarray:
    """Expand a multi-res set to uniform `res` (reference
    h3.uncompact_cells role)."""
    out = []
    for c in np.asarray(cells, dtype=np.int64):
        out.append(cell_to_children(int(c), res))
    return np.unique(np.concatenate(out)) if out else np.empty(0, np.int64)


def is_pentagon_expr(c):
    """Native-column pentagon test (no Python): pentagonal base cell AND
    every digit ≤ res is 0 — pure bit arithmetic on the standard index
    layout, so it rides whole-stage codegen."""
    from pyspark.sql import functions as F

    base = F.shiftright(c, 45).bitwiseAND(F.lit(127))
    res = F.shiftright(c, 52).bitwiseAND(F.lit(15))
    cond = base.isin([int(b) for b in np.nonzero(PENTAGONS)[0]])
    for r in range(1, MAX_RES + 1):
        dig = F.shiftright(c, (MAX_RES - r) * 3).bitwiseAND(F.lit(7))
        cond = cond & ((dig == 0) | (F.lit(r) > res))
    return cond


def compact_cells_df(df, col: str = "h3_cell", res: int | None = None):
    """DISTRIBUTED multi-res compaction — the scale path for target
    resolutions whose cell domain is too large for the driver-side
    `compact` (res ≥ ~7; res-15 has 5.7e14 cells). Same semantics:
    complete sibling sets (7, or 6 under a pentagon parent) collapse to
    their parent, iterated res→0. Entirely native column bit math — the
    per-level plan is one hash aggregate on the parent key plus a
    left-anti join, each level ~7× smaller than the last, so total cost
    ≈ 1.2× one leaf-level shuffle. Input must be uniform-resolution
    (`res`; read from the data when omitted). Returns a DataFrame of
    `col` (multi-res)."""
    from functools import reduce

    from pyspark.sql import functions as F

    cur = df.select(col).distinct()
    if res is None:
        row = cur.select(
            F.shiftright(F.col(col), 52).bitwiseAND(F.lit(15)).alias("r")
        ).first()
        if row is None:
            return cur
        res = int(row["r"])
    remainders = []
    for r in range(res, 0, -1):
        shift = (MAX_RES - r) * 3
        parent = (
            F.col(col)
            .bitwiseAND(F.lit(~(15 << 52)))
            .bitwiseOR(F.lit((r - 1) << 52))
            .bitwiseOR(F.lit(INVALID_DIGIT << shift))
        )
        # one materialization per level shared by `full` and the
        # remainder anti-join (avoids recomputing the whole prefix)
        with_p = cur.withColumn("_p", parent).localCheckpoint(eager=True)
        full = (
            with_p.groupBy("_p")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(
                F.col("_n")
                == F.when(is_pentagon_expr(F.col("_p")), 6).otherwise(7)
            )
            .select("_p")
            .localCheckpoint(eager=True)
        )
        # early exit: a level with zero complete sibling sets means every
        # remaining level is a no-op (nothing left to collapse) — the
        # emptiness probe is one cheap job over the checkpointed
        # aggregate, and real covers rarely compact anywhere near res 0,
        # so this typically saves most of the res levels
        if full.isEmpty():
            remainders.append(with_p.select(col))
            cur = None
            break
        remainders.append(
            with_p.join(full, "_p", "left_anti").select(col)
        )
        cur = full.select(F.col("_p").alias(col))
    if cur is not None:
        remainders.append(cur)
    return reduce(lambda a, b: a.unionByName(b), remainders)


def uncompact_cells_df(df, res: int, col: str = "h3_cell"):
    """DISTRIBUTED uncompact: expand a (possibly multi-res) cell set to
    uniform `res`. Per level: cells one res above expand through a
    7-digit explode with the pentagon K-child filtered natively; all
    other rows pass through untouched. Pure column bit math."""
    from pyspark.sql import functions as F

    cur = df.select(col)
    for r in range(1, res + 1):
        shift = (MAX_RES - r) * 3
        cres = F.shiftright(F.col(col), 52).bitwiseAND(F.lit(15))
        expand = cur.where(cres == r - 1)
        keep = cur.where(cres != r - 1)
        bumped = (
            F.col(col)
            .bitwiseAND(F.lit(~(15 << 52)))
            .bitwiseOR(F.lit(r << 52))
        )
        children = (
            expand.select(
                bumped.alias("_c"),
                is_pentagon_expr(F.col(col)).alias("_pent"),
            )
            .select(
                "_c",
                "_pent",
                F.explode(F.array([F.lit(d) for d in range(7)])).alias("_d"),
            )
            .where(~(F.col("_pent") & (F.col("_d") == K_DIGIT)))
            .select(
                F.col("_c")
                .bitwiseAND(F.lit(~(7 << shift)))
                .bitwiseOR(F.shiftleft(F.col("_d").cast("long"), shift))
                .alias(col)
            )
        )
        cur = children.unionByName(keep)
    return cur


def assign_cells_df(points, res: int, lon: str = "lon", lat: str = "lat",
                    out_col: str = "h3_cell"):
    """points DataFrame → + h3_cell column (Arrow-batched numpy kernel,
    same shape as cells_s2.assign_cells_df — the face/gnomonic/aperture
    pipeline is trig- and branch-heavy, so there is no native-column twin;
    the batch kernel amortizes it and the slot tables load once per worker
    from the ~/.cache/spark_graft cache)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(points.schema.fields) + [StructField(out_col, LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf.copy()
            out[out_col] = latlng_to_cell(
                pdf[lat].to_numpy(np.float64), pdf[lon].to_numpy(np.float64),
                res,
            )
            yield out

    return points.mapInPandas(kernel, schema=schema)


def local_ijk(h) -> np.ndarray:
    """Cells → their local IJK coordinate within their own base cell
    (digit walk, no overage — a base-cell-local frame). Grid distance
    between two cells of the SAME base cell is the normalized max-abs of
    the coordinate difference; used by the oracle-checkable ring query."""
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))
    res_arr = get_resolution(h)
    out = np.zeros((h.shape[0], 3), dtype=np.int64)
    for res in np.unique(res_arr):
        res = int(res)
        m = res_arr == res
        digits = _get_digits(h[m], res)
        ijk = np.zeros((int(m.sum()), 3), dtype=np.int64)
        for r in range(1, res + 1):
            ijk = _down_ap7(ijk, rev=(r % 2 == 0))
            ijk = _ijk_normalize(ijk + UNIT_VECS[digits[:, r - 1]])
        out[m] = ijk
    return out


def grid_distance_local(a: np.ndarray, b_ijk: np.ndarray) -> np.ndarray:
    """Hex grid distance between cells `a` and a fixed local-IJK `b_ijk`
    (must share the base cell): max component of the normalized diff."""
    d = local_ijk(a) - b_ijk[None, :]
    d = d - d.min(axis=1, keepdims=True)
    return d.max(axis=1)
