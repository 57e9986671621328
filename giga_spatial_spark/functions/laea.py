"""Lambert azimuthal equal-area, ellipsoidal — EPSG:3035 — from scratch.

EPSG:3035 (ETRS89-extended / LAEA Europe: lat_0=52, lon_0=10,
x_0=4321000, y_0=3210000 on GRS80) is the standard grid of EU-wide public
rasters (CORINE, EU-DEM, population grids) — the most common projected
CRS the reference's raster flows meet outside Mollweide/UTM/WebMercator
(tif_processor.py accepts any rasterio CRS). No projection library exists
in this container, so this implements the published ellipsoidal LAEA
equations (Snyder 1987, "Map Projections — A Working Manual", pp.187-190,
oblique aspect) directly, the same from-scratch pattern as
functions/mollweide.py and functions/utm.py. `LaeaAzimuthal` takes any
origin / false origin / ellipsoid (user-defined GeoTIFF GeoKeys with
ProjCoordTransGeoKey 10); EPSG:3035 is its instance `EPSG_3035`, and the
module-level forward / inverse / inverse_sql are that instance's:

  forward: authalic latitude β from q(φ), B/D scaling, oblique azimuthal
           placement; inverse: ρ/ce angular recovery then the published
           authalic→geodetic series (e², e⁴, e⁶ terms — sub-µm on GRS80).

The inverse has an exact SQL twin (inverse_sql) so DuckDB oracles
recompute pixel lon/lat identically (trig-ulp envelope, the same
tolerance class as mollweide.inverse_sql)."""

from __future__ import annotations

import math

import numpy as np

from .ellipsoid import (
    A_GRS80,
    authalic_coeffs,
    m_parallel,
    q_authalic,
    sql_double,
)
from .ellipsoid import E2_GRS80 as E2


class LaeaAzimuthal:
    """Ellipsoidal Lambert azimuthal equal-area, oblique aspect, with
    ARBITRARY parameters (Snyder pp.187-190), so user-defined GeoTIFF
    GeoKeys with ProjCoordTransGeoKey 10 ingest: the reference accepts
    any rasterio CRS. Shares the authalic machinery with
    functions/ellipsoid.py."""

    def __init__(
        self,
        lat0_deg: float,
        lon0_deg: float,
        x0: float = 0.0,
        y0: float = 0.0,
        a: float = A_GRS80,
        e2: float = E2,
    ):
        self.a, self.e2 = float(a), float(e2)
        self.lat0 = math.radians(lat0_deg)
        self.lon0 = math.radians(lon0_deg)
        self.x0, self.y0 = float(x0), float(y0)
        self.qp = float(q_authalic(np.array(1.0), self.e2))
        self.beta1 = math.asin(
            float(q_authalic(np.array(math.sin(self.lat0)), self.e2))
            / self.qp
        )
        self.rq = self.a * math.sqrt(self.qp / 2.0)
        m1 = m_parallel(self.lat0, self.e2)
        self.D = self.a * m1 / (self.rq * math.cos(self.beta1))
        self.c2, self.c4, self.c6 = authalic_coeffs(self.e2)

    def forward(self, lon_deg, lat_deg):
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        beta = np.arcsin(
            np.clip(q_authalic(np.sin(phi), self.e2) / self.qp, -1.0, 1.0)
        )
        dl = lam - self.lon0
        # wrap into [-π, π) only where needed: an in-range Δλ stays the
        # exact difference, which the EPSG:3035 fixture anchors are pinned to
        dl = np.where(
            (dl < -math.pi) | (dl >= math.pi),
            np.remainder(dl + math.pi, 2.0 * math.pi) - math.pi,
            dl,
        )
        sb1, cb1 = math.sin(self.beta1), math.cos(self.beta1)
        b_den = 1.0 + sb1 * np.sin(beta) + cb1 * np.cos(beta) * np.cos(dl)
        B = self.rq * np.sqrt(2.0 / np.maximum(b_den, 1e-300))
        x = B * self.D * np.cos(beta) * np.sin(dl) + self.x0
        y = (B / self.D) * (
            cb1 * np.sin(beta) - sb1 * np.cos(beta) * np.cos(dl)
        ) + self.y0
        return x, y

    def inverse(self, x, y):
        xs = (np.asarray(x, dtype=np.float64) - self.x0) / self.D
        ys = (np.asarray(y, dtype=np.float64) - self.y0) * self.D
        rho = np.sqrt(xs * xs + ys * ys)
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * self.rq), -1.0, 1.0))
        sb1, cb1 = math.sin(self.beta1), math.cos(self.beta1)
        safe_rho = np.where(rho > 1e-12, rho, 1.0)
        beta = np.arcsin(
            np.clip(
                np.cos(ce) * sb1 + ys * np.sin(ce) * cb1 / safe_rho,
                -1.0, 1.0,
            )
        )
        beta = np.where(rho > 1e-12, beta, self.beta1)
        lam = self.lon0 + np.arctan2(
            xs * np.sin(ce),
            safe_rho * cb1 * np.cos(ce) - ys * sb1 * np.sin(ce),
        )
        lam = np.where(rho > 1e-12, lam, self.lon0)
        phi = (
            beta
            + self.c2 * np.sin(2.0 * beta)
            + self.c4 * np.sin(4.0 * beta)
            + self.c6 * np.sin(6.0 * beta)
        )
        return np.degrees(lam), np.degrees(phi)

    def inverse_sql(self, x_sql: str, y_sql: str) -> tuple[str, str]:
        """(lon_sql, lat_sql) DuckDB twins of ``inverse`` — identical
        operation order, trig-ulp equivalence (mollweide.inverse_sql
        pattern)."""
        d = sql_double
        xs = f"((({x_sql}) - {d(self.x0)}) / {d(self.D)})"
        ys = f"((({y_sql}) - {d(self.y0)}) * {d(self.D)})"
        rho = f"sqrt({xs}*{xs} + {ys}*{ys})"
        ce = (
            f"(2.0 * asin(least(greatest({rho} / {d(2.0 * self.rq)}, "
            "-1.0), 1.0)))"
        )
        sb1, cb1 = math.sin(self.beta1), math.cos(self.beta1)
        safe_rho = f"(CASE WHEN {rho} > 1e-12 THEN {rho} ELSE 1.0 END)"
        beta = (
            f"(CASE WHEN {rho} > 1e-12 THEN asin(least(greatest("
            f"cos({ce}) * {d(sb1)} + {ys} * sin({ce}) * {d(cb1)} / "
            f"{safe_rho}, -1.0), 1.0)) ELSE {d(self.beta1)} END)"
        )
        lam = (
            f"(CASE WHEN {rho} > 1e-12 THEN {d(self.lon0)} + "
            f"atan2({xs} * sin({ce}), "
            f"{safe_rho} * {d(cb1)} * cos({ce}) - {ys} * {d(sb1)} * "
            f"sin({ce})) ELSE {d(self.lon0)} END)"
        )
        phi = (
            f"({beta} + {d(self.c2)} * sin(2.0 * {beta}) + "
            f"{d(self.c4)} * sin(4.0 * {beta})"
            f" + {d(self.c6)} * sin(6.0 * {beta}))"
        )
        return f"degrees({lam})", f"degrees({phi})"


# canonical EPSG:3035 instance + module-level API
EPSG_3035 = LaeaAzimuthal(52.0, 10.0, 4321000.0, 3210000.0)

forward = EPSG_3035.forward
inverse = EPSG_3035.inverse
inverse_sql = EPSG_3035.inverse_sql
