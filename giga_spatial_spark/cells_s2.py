"""S2-style hierarchical cell index — from-scratch numpy implementation.

Reproduces the reference's S2Cells semantics (gigaspatial/grid/s2.py:21-34,
point→cell :344-369, parent/children :371-455) without the s2sphere
dependency: the standard public S2 scheme — unit-sphere → cube face →
quadratic UV correction → leaf (i,j) on a 2^30 grid → Hilbert curve
position packed into a 64-bit cell id (face ∙ 61-bit position ∙ trailing
1-bit sentinel encoding the level).

Vectorized over numpy arrays → used inside pandas UDFs (SURVEY.md §2.9).
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30

# Hilbert traversal lookup (public S2 constants): for each orientation
# (swap/invert bits) and quadrant (i-bit, j-bit), the sub-quadrant order and
# new orientation.
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # orientation 0: (0,0) (0,1) (1,1) (1,0)
        [0, 2, 3, 1],  # orientation 1 (swap)
        [3, 2, 0, 1],  # orientation 2 (invert)
        [3, 1, 0, 2],  # orientation 3 (swap+invert)
    ],
    dtype=np.int64,
)
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p
_SWAP_MASK, _INVERT_MASK = 1, 2
_POS_TO_ORIENTATION = np.array(
    [_SWAP_MASK, 0, 0, _INVERT_MASK | _SWAP_MASK], dtype=np.int64
)


def _face_xyz(lat: np.ndarray, lon: np.ndarray):
    """lat/lon degrees → (face, u, v) via largest-component cube projection."""
    phi, theta = np.radians(lat), np.radians(lon)
    x = np.cos(phi) * np.cos(theta)
    y = np.cos(phi) * np.sin(theta)
    z = np.sin(phi)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    # u, v per face (standard S2 face frames)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, de) in enumerate(
        [
            (lambda: y / x, lambda: z / x, None),
            (lambda: -x / y, lambda: z / y, None),
            (lambda: -x / z, lambda: -y / z, None),
            (lambda: z / x, lambda: y / x, None),
            (lambda: z / y, lambda: -x / y, None),
            (lambda: -y / z, lambda: -x / z, None),
        ]
    ):
        m = face == f
        if m.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2 quadratic projection (the library default)."""
    pos = 0.5 * np.sqrt(np.maximum(1 + 3 * u, 0.0))
    neg = 1 - 0.5 * np.sqrt(np.maximum(1 - 3 * u, 0.0))
    return np.where(u >= 0, pos, neg)


def _st_to_ij(s: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    return np.clip((s * n).astype(np.int64), 0, n - 1)


def cell_id(lat, lon, level: int = 12) -> np.ndarray:
    """Vectorized (lat, lon) → 64-bit S2-style cell id at `level`."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    face, u, v = _face_xyz(lat, lon)
    i = _st_to_ij(_uv_to_st(u), MAX_LEVEL)
    j = _st_to_ij(_uv_to_st(v), MAX_LEVEL)
    # Hilbert: accumulate curve position MSB-first over MAX_LEVEL bits
    pos = np.zeros(len(face), dtype=np.uint64)
    orientation = np.where(face & 1, _SWAP_MASK, 0).astype(np.int64)
    for k in range(MAX_LEVEL - 1, -1, -1):
        ib = (i >> k) & 1
        jb = (j >> k) & 1
        quad = (ib << 1) | jb
        p = _IJ_TO_POS[orientation, quad]
        pos = (pos << np.uint64(2)) | p.astype(np.uint64)
        orientation = orientation ^ _POS_TO_ORIENTATION[p]
    # full 64-bit id: face(3) + pos(2*MAX_LEVEL) + sentinel 1
    full = (
        (face.astype(np.uint64) << np.uint64(2 * MAX_LEVEL + 1))
        | (pos << np.uint64(1))
        | np.uint64(1)
    )
    # truncate to `level`: zero low bits, set sentinel at the level boundary
    shift = np.uint64(2 * (MAX_LEVEL - level))
    lsb = np.uint64(1) << shift
    truncated = (full & ~(lsb - np.uint64(1)) & ~lsb) | lsb
    return truncated.astype(np.int64)


def cell_level(cid) -> np.ndarray:
    """Level from the trailing-bit sentinel."""
    cid = np.asarray(cid, dtype=np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    k = np.round(np.log2(lsb.astype(np.float64))).astype(np.int64)
    return MAX_LEVEL - k // 2


def parent(cid, level: int) -> np.ndarray:
    """Ancestor cell at a coarser level (reference grid/s2.py parents)."""
    cid = np.asarray(cid, dtype=np.uint64)
    shift = np.uint64(2 * (MAX_LEVEL - level))
    lsb = np.uint64(1) << shift
    return ((cid & ~(lsb - np.uint64(1)) & ~lsb) | lsb).astype(np.int64)


def children(cid) -> np.ndarray:
    """The 4 child cells, one level finer. cid: scalar int."""
    c = np.uint64(cid)
    lsb = c & (~c + np.uint64(1))
    child_lsb = lsb >> np.uint64(2)
    base = c - lsb  # zero the sentinel
    return np.array(
        [
            int(base + child_lsb + np.uint64(2 * q) * child_lsb)
            for q in range(4)
        ],
        dtype=np.int64,
    )


_DEG = 0.017453292519943295  # float64(pi / 180): np.radians is x * this


def cell_id_sql(src: str, level: int = 6) -> str:
    """DuckDB SQL recomputing ``cell_id`` per row of ``src`` (a query with
    columns doc_id, lon, lat) — returns SELECT doc_id, s2_cell.

    Mirrors the numpy pipeline operation-for-operation (same multiply
    order, trunc-toward-zero ij, unrolled Hilbert rounds). sqrt/division/
    multiplication are IEEE-identical across engines; cos/sin may differ by
    1 ulp, which is safe for this corpus (0 cell flips under 20 random
    1-ulp trig perturbation trials at both sf0.001 and sf0.01 — measured;
    min face-boundary margin 1.6e-4, min non-exact level-6 edge margin
    ≫ the ~1e-7-leaf-unit trig error envelope)."""
    n = 1 << MAX_LEVEL
    # orientation transition table: (o, quad) -> (p, next_o)
    trans = {}
    for o in range(4):
        for quad in range(4):
            p = int(_IJ_TO_POS[o, quad])
            trans[o, quad] = (p, o ^ int(_POS_TO_ORIENTATION[p]))
    st = (
        "CASE WHEN {u} >= 0 THEN 0.5 * sqrt(greatest(1 + 3 * {u}, 0.0)) "
        "ELSE 1 - 0.5 * sqrt(greatest(1 - 3 * {u}, 0.0)) END"
    )
    rounds = []
    for idx in range(level):
        k = MAX_LEVEL - 1 - idx
        quad = f"(((i >> {k}) & 1) * 2 + ((j >> {k}) & 1))"
        prev_o = "o0" if idx == 0 else f"o{idx}"
        p_cases = " ".join(
            f"WHEN {o * 4 + q} THEN {trans[o, q][0]}"
            for o in range(4)
            for q in range(4)
        )
        o_cases = " ".join(
            f"WHEN {o * 4 + q} THEN {trans[o, q][1]}"
            for o in range(4)
            for q in range(4)
        )
        rounds.append(
            f"r{idx} AS (SELECT *, "
            f"CASE {prev_o} * 4 + {quad} {p_cases} END AS p{idx}, "
            f"CASE {prev_o} * 4 + {quad} {o_cases} END AS o{idx + 1} "
            f"FROM {'t6' if idx == 0 else f'r{idx - 1}'})"
        )
    pos = " + ".join(f"p{idx} * {4 ** (level - 1 - idx)}" for idx in range(level))
    rounds_sql = ",\n".join(rounds)
    f_shift = 1 << (2 * MAX_LEVEL + 1)
    p_shift = 1 << (2 * (MAX_LEVEL - level) + 1)
    sentinel = 1 << (2 * (MAX_LEVEL - level))
    return f"""
WITH pts AS ({src}),
t1 AS (SELECT doc_id,
  cos(lat * {_DEG!r}) * cos(lon * {_DEG!r}) AS x,
  cos(lat * {_DEG!r}) * sin(lon * {_DEG!r}) AS y,
  sin(lat * {_DEG!r}) AS z FROM pts),
t2 AS (SELECT *, abs(x) AS ax, abs(y) AS ay, abs(z) AS az FROM t1),
t3 AS (SELECT *, CASE WHEN ax >= ay AND ax >= az THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
                      WHEN ay >= az THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
                      ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face FROM t2),
t4 AS (SELECT *,
  CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
            WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
  CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
            WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v FROM t3),
t5 AS (SELECT *, {st.format(u='u')} AS s, {st.format(u='v')} AS t FROM t4),
t6 AS (SELECT doc_id, face,
  least(greatest(cast(trunc(s * {n}) AS BIGINT), 0), {n - 1}) AS i,
  least(greatest(cast(trunc(t * {n}) AS BIGINT), 0), {n - 1}) AS j,
  CASE WHEN face % 2 = 1 THEN {_SWAP_MASK} ELSE 0 END AS o0 FROM t5),
{rounds_sql},
fin AS (SELECT doc_id,
  face::HUGEINT * {f_shift} + ({pos})::HUGEINT * {p_shift} + {sentinel} AS id_h
  FROM r{level - 1})
SELECT doc_id,
  (CASE WHEN id_h >= {1 << 63} THEN id_h - {1 << 64} ELSE id_h END)::BIGINT AS s2_cell
FROM fin
"""


def token(cid) -> str:
    """Hex token with trailing zeros stripped (s2 convention)."""
    h = format(int(cid) & ((1 << 64) - 1), "016x").rstrip("0")
    return h or "0"


def from_token(tok: str) -> int:
    """Inverse of token(): hex token (trailing zeros stripped) → cell id."""
    u = int(tok.ljust(16, "0"), 16)
    return u - (1 << 64) if u >= (1 << 63) else u


def _decode(cid: int) -> tuple[int, int, int, int]:
    """cell id → (face, i, j, level) with i, j in level units."""
    cu = int(cid) & ((1 << 64) - 1)
    level = int(cell_level(np.array([cid], dtype=np.int64))[0])
    face = cu >> (2 * MAX_LEVEL + 1)
    pos = (cu >> (2 * (MAX_LEVEL - level) + 1)) & ((1 << (2 * level)) - 1)
    # inverse Hilbert: MSB-first quadrant decode with the same orientation
    # state machine as cell_id
    o = _SWAP_MASK if face & 1 else 0
    i = j = 0
    for k in range(level - 1, -1, -1):
        p = (pos >> (2 * k)) & 3
        quad = int(_POS_TO_IJ[o, p])
        i = (i << 1) | (quad >> 1)
        j = (j << 1) | (quad & 1)
        o ^= int(_POS_TO_ORIENTATION[p])
    return face, i, j, level


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    """Inverse quadratic projection."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (4 * s * s - 1) / 3.0, (1 - 4 * (1 - s) * (1 - s)) / 3.0
    )


_FACE_DIR = [
    lambda u, v: (np.ones_like(u), u, v),
    lambda u, v: (-u, np.ones_like(u), v),
    lambda u, v: (-u, -v, np.ones_like(u)),
    lambda u, v: (-np.ones_like(u), -v, -u),
    lambda u, v: (v, -np.ones_like(u), -u),
    lambda u, v: (v, u, -np.ones_like(u)),
]


def _face_uv_to_latlon(face: int, u: np.ndarray, v: np.ndarray):
    x, y, z = _FACE_DIR[face](np.asarray(u, np.float64), np.asarray(v, np.float64))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def cell_center_latlon(cid: int) -> tuple[float, float]:
    """Cell id → (lat, lon) of the cell center (reference cell_to_latlng,
    grid/s2.py)."""
    face, i, j, level = _decode(cid)
    n = 1 << level
    u = _st_to_uv(np.array([(i + 0.5) / n]))
    v = _st_to_uv(np.array([(j + 0.5) / n]))
    lat, lon = _face_uv_to_latlon(face, u, v)
    return float(lat[0]), float(lon[0])


def cell_centers_latlon(cids, level: int) -> tuple[np.ndarray, np.ndarray]:
    """cell_center_latlon over an array of cells of one `level`: (lat, lon)
    arrays, bitwise equal to the scalar decode — the inverse Hilbert walk
    runs over the whole array, then one _face_uv_to_latlon per face."""
    cu = np.asarray(cids, dtype=np.int64).view(np.uint64)
    face = (cu >> np.uint64(2 * MAX_LEVEL + 1)).astype(np.int64)
    pos = cu >> np.uint64(2 * (MAX_LEVEL - level) + 1)
    o = np.where(face & 1, _SWAP_MASK, 0).astype(np.int64)
    i = np.zeros(len(cu), dtype=np.int64)
    j = np.zeros(len(cu), dtype=np.int64)
    for k in range(level - 1, -1, -1):
        p = ((pos >> np.uint64(2 * k)) & np.uint64(3)).astype(np.int64)
        quad = _POS_TO_IJ[o, p]
        i = (i << 1) | (quad >> 1)
        j = (j << 1) | (quad & 1)
        o = o ^ _POS_TO_ORIENTATION[p]
    n = 1 << level
    u = _st_to_uv((i + 0.5) / n)
    v = _st_to_uv((j + 0.5) / n)
    lat = np.empty(len(cu))
    lon = np.empty(len(cu))
    for f in np.unique(face):
        m = face == f
        lat[m], lon[m] = _face_uv_to_latlon(int(f), u[m], v[m])
    return lat, lon


def cell_polygon(cid: int) -> np.ndarray:
    """(4, 2) lon/lat corners of the cell, CCW (reference cell→quad polygon
    with CCW orientation, grid/s2.py:285-331)."""
    face, i, j, level = _decode(cid)
    n = 1 << level
    ss = np.array([i / n, (i + 1) / n, (i + 1) / n, i / n])
    ts = np.array([j / n, j / n, (j + 1) / n, (j + 1) / n])
    lat, lon = _face_uv_to_latlon(face, _st_to_uv(ss), _st_to_uv(ts))
    ring = np.column_stack([lon, lat])
    # enforce CCW in lon/lat (shoelace sign)
    area2 = np.sum(
        ring[:, 0] * np.roll(ring[:, 1], -1) - np.roll(ring[:, 0], -1) * ring[:, 1]
    )
    return ring if area2 >= 0 else ring[::-1]


def neighbors(cid: int) -> np.ndarray:
    """The 4 edge neighbors at the same level. Off-face steps are resolved
    by projecting the stepped center direction back through cell_id (the
    cube central projection stays valid for |uv| > 1, so face crossings
    come out right without explicit face-adjacency tables)."""
    face, i, j, level = _decode(cid)
    n = 1 << level
    out = []
    for di, dj in ((1, 0), (-1, 0), (0, 1), (0, -1)):
        u = _st_to_uv(np.array([(i + di + 0.5) / n]))
        v = _st_to_uv(np.array([(j + dj + 0.5) / n]))
        lat, lon = _face_uv_to_latlon(face, u, v)
        out.append(int(cell_id(lat, lon, level)[0]))
    return np.array(sorted(set(out)), dtype=np.int64)


def assign_cells_df(points, level: int, lon: str = "lon", lat: str = "lat",
                    out_col: str = "s2_cell"):
    """points DataFrame → + s2_cell column (Arrow-batched numpy kernel —
    the Hilbert state machine is branch-heavy, so unlike the hex/mercator
    grids there is no native-column twin; the batch kernel amortizes it)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(points.schema.fields) + [StructField(out_col, LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf.copy()
            out[out_col] = cell_id(
                pdf[lat].to_numpy(np.float64), pdf[lon].to_numpy(np.float64),
                level,
            )
            yield out

    return points.mapInPandas(kernel, schema=schema)


def polyfill(boundary: np.ndarray, level: int, mode: str = "center") -> np.ndarray:
    """Cells of `level` covering a boundary polygon (reference
    S2ViewGenerator source polyfill role, generators/zonal/s2.py): candidate
    cells come from a deterministic bbox sample grid at ≤ quarter-cell step
    (every cell overlapping the bbox receives ≥1 sample), then
      mode='center'      keeps cells whose CENTER is inside the polygon
      mode='intersects'  keeps cells whose quad intersects the polygon.
    Driver-side like the reference's RegionCoverer usage — covers are dims."""
    from .geometry import point_in_polygon
    from .operators.overlay import polygons_intersect

    b = np.asarray(boundary, dtype=np.float64)
    minx, miny = b[:, 0].min(), b[:, 1].min()
    maxx, maxy = b[:, 0].max(), b[:, 1].max()
    # face spans ~90° over st∈[0,1] → cell angular size ≈ 90/2^level
    step = max(90.0 / (1 << level) / 4.0, 1e-4)
    n_samples = ((maxx - minx) / step + 3) * ((maxy - miny) / step + 3)
    if n_samples > 4e7:
        raise ValueError(
            f"s2 polyfill would sample ~{n_samples:.0f} grid points "
            f"(boundary extent {maxx - minx:.1f}°×{maxy - miny:.1f}° at "
            f"level {level}); use a coarser level and children()/expand, "
            "or split the boundary — driver-side covers are for dims"
        )
    xs = np.arange(minx - step, maxx + 2 * step, step)
    ys = np.arange(miny - step, maxy + 2 * step, step)
    gx, gy = np.meshgrid(xs, ys)
    cand = np.unique(cell_id(gy.ravel(), gx.ravel(), level))
    if mode == "center":
        lat, lon = cell_centers_latlon(cand, level)
        return cand[point_in_polygon(b, lon, lat)]
    if mode != "intersects":
        raise ValueError(f"unknown polyfill mode {mode!r}")
    keep = [int(c) for c in cand if polygons_intersect(cell_polygon(int(c)), b)]
    return np.array(sorted(keep), dtype=np.int64)


def cell_center_sql(src: str, level: int, cell_col: str = "s2_cell") -> str:
    """DuckDB SQL recomputing cell_center_latlon per row of ``src`` (a query
    exposing `cell_col`) → SELECT {cell_col}, clat, clon. The exact inverse
    of cell_id_sql: unpack face/pos, unrolled inverse-Hilbert rounds (same
    orientation state machine, POS_TO_IJ direction), inverse quadratic
    st→uv, face frame → atan2 lat/lon. Powers center-mode polyfill oracles
    (q_s2_zonal) the same way the hex oracle inverts the axial transform."""
    n = 1 << level
    f_shift = 1 << (2 * MAX_LEVEL + 1)
    p_shift = 1 << (2 * (MAX_LEVEL - level) + 1)
    pos_mask = (1 << (2 * level)) - 1
    # (o, p) -> (quad, next_o)
    trans = {}
    for o in range(4):
        for p in range(4):
            quad = int(_POS_TO_IJ[o, p])
            trans[o, p] = (quad, o ^ int(_POS_TO_ORIENTATION[p]))
    rounds = []
    for idx in range(level):
        k = level - 1 - idx
        p_expr = f"((pos >> {2 * k}) & 3)"
        prev = "d0" if idx == 0 else f"d{idx}"
        quad_cases = " ".join(
            f"WHEN {o * 4 + p} THEN {trans[o, p][0]}"
            for o in range(4)
            for p in range(4)
        )
        o_cases = " ".join(
            f"WHEN {o * 4 + p} THEN {trans[o, p][1]}"
            for o in range(4)
            for p in range(4)
        )
        prev_i = "0" if idx == 0 else f"i{idx}"
        prev_j = "0" if idx == 0 else f"j{idx}"
        prev_o = "o0" if idx == 0 else f"o{idx}"
        # two CTEs per round so each big CASE appears exactly once — a
        # single-CTE form repeats the quad CASE for i and j, and CTE
        # inlining then blows the expression tree up exponentially with
        # level (measured: DuckDB planning hangs at level 6)
        rounds.append(
            f"q{idx} AS (SELECT *, "
            f"CASE {prev_o} * 4 + {p_expr} {quad_cases} END AS quad{idx}, "
            f"CASE {prev_o} * 4 + {p_expr} {o_cases} END AS o{idx + 1} "
            f"FROM {prev})"
        )
        rounds.append(
            f"d{idx + 1} AS (SELECT *, "
            f"{prev_i} * 2 + (quad{idx} >> 1) AS i{idx + 1}, "
            f"{prev_j} * 2 + (quad{idx} & 1) AS j{idx + 1} "
            f"FROM q{idx})"
        )
    rounds_sql = ",\n".join(rounds)
    uv = (
        "CASE WHEN {s} >= 0.5 THEN (4 * {s} * {s} - 1) / 3.0 "
        "ELSE (1 - 4 * (1 - {s}) * (1 - {s})) / 3.0 END"
    )
    return f"""
WITH cellsrc AS ({src}),
u64 AS (SELECT {cell_col},
  (CASE WHEN {cell_col} < 0 THEN {cell_col}::HUGEINT + {1 << 64}::HUGEINT
        ELSE {cell_col}::HUGEINT END) AS uid FROM cellsrc),
d0 AS (SELECT {cell_col},
  (uid // {f_shift})::BIGINT AS face,
  ((uid // {p_shift}) % {pos_mask + 1})::BIGINT AS pos,
  CASE WHEN (uid // {f_shift})::BIGINT % 2 = 1 THEN {_SWAP_MASK} ELSE 0 END AS o0
  FROM u64),
{rounds_sql},
st AS (SELECT {cell_col}, face,
  (i{level} + 0.5) / {n} AS s, (j{level} + 0.5) / {n} AS t FROM d{level}),
uvq AS (SELECT {cell_col}, face, {uv.format(s='s')} AS u, {uv.format(s='t')} AS v FROM st),
xyz AS MATERIALIZED (SELECT {cell_col},
  CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -u WHEN 2 THEN -u
            WHEN 3 THEN -1.0 WHEN 4 THEN v ELSE v END AS x,
  CASE face WHEN 0 THEN u WHEN 1 THEN 1.0 WHEN 2 THEN -v
            WHEN 3 THEN -v WHEN 4 THEN -1.0 ELSE u END AS y,
  CASE face WHEN 0 THEN v WHEN 1 THEN v WHEN 2 THEN 1.0
            WHEN 3 THEN -u WHEN 4 THEN -u ELSE -1.0 END AS z
  FROM uvq)
SELECT {cell_col},
  degrees(atan2(z, sqrt(x * x + y * y))) AS clat,
  degrees(atan2(y, x)) AS clon
FROM xyz
"""
