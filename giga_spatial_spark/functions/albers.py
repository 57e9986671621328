"""Albers equal-area conic, ellipsoidal, ANY parameters — from scratch.

EPSG:5070 (NAD83 / Conus Albers: lat_1=29.5, lat_2=45.5, lat_0=23,
lon_0=-96, x_0=y_0=0 on GRS80) is the standard grid of US-wide public
rasters (NLCD, LANDFIRE, cropland data layers) and is this module's
default instance; `AlbersConic` takes arbitrary standard parallels /
origin / false origin / ellipsoid, which is how user-defined GeoTIFF
GeoKeys (ProjCoordTransGeoKey 11) are ingested — the reference accepts
any rasterio CRS (gigaspatial/handlers/tif_processor.py), so parameter
coverage, not a fixed code list, is the parity target. No projection
library exists in this container; this implements the published
ellipsoidal Albers equations (Snyder 1987, "Map Projections — A Working
Manual", pp.98-103, eqs 14-1..14-21) directly — the same from-scratch
pattern as functions/laea.py, sharing the authalic-q machinery
(Snyder 3-12 / 3-18, sub-µm on GRS80) via functions/ellipsoid.py:

  forward: n from the two standard parallels' (m, q), C = m1² + n·q1,
           ρ = a·√(C − n·q)/n, θ = n·(λ − λ0)
  inverse: ρ/θ recovery about ρ0, q = (C − (ρn/a)²)/n, β = asin(q/qp),
           then the published authalic→geodetic series.

The inverse has an exact SQL twin (inverse_sql) so DuckDB oracles
recompute pixel lon/lat identically (trig-ulp envelope, the same
tolerance class as laea.inverse_sql / mollweide.inverse_sql)."""

from __future__ import annotations

import math

import numpy as np

from .ellipsoid import (
    A_GRS80,
    E2_GRS80,
    authalic_coeffs,
    m_parallel,
    q_authalic,
    sql_double,
)

E2 = E2_GRS80  # back-compat re-export (tests reference albers.E2)


class AlbersConic:
    """Ellipsoidal Albers equal-area conic with arbitrary parameters.

    Degrees in, meters out; n > 0 (northern-opening cone) and n < 0 both
    supported — θ recovery uses sign-adjusted atan2 per Snyder p.102."""

    def __init__(
        self,
        phi1_deg: float,
        phi2_deg: float,
        lat0_deg: float,
        lon0_deg: float,
        x0: float = 0.0,
        y0: float = 0.0,
        a: float = A_GRS80,
        e2: float = E2_GRS80,
    ):
        if abs(phi1_deg + phi2_deg) < 1e-12:
            raise ValueError(
                "Albers standard parallels must not be symmetric about "
                "the equator (n = 0 degenerates the cone)"
            )
        self.a, self.e2 = float(a), float(e2)
        self.phi1 = math.radians(phi1_deg)
        self.phi2 = math.radians(phi2_deg)
        self.lat0 = math.radians(lat0_deg)
        self.lon0 = math.radians(lon0_deg)
        self.x0, self.y0 = float(x0), float(y0)
        self.qp = float(q_authalic(np.array(1.0), self.e2))
        m1 = m_parallel(self.phi1, self.e2)
        m2 = m_parallel(self.phi2, self.e2)
        q0 = float(q_authalic(np.array(math.sin(self.lat0)), self.e2))
        q1 = float(q_authalic(np.array(math.sin(self.phi1)), self.e2))
        q2 = float(q_authalic(np.array(math.sin(self.phi2)), self.e2))
        if abs(self.phi1 - self.phi2) < 1e-12:
            self.n = math.sin(self.phi1)  # 1-SP limit (Snyder 14-14 note)
        else:
            self.n = (m1 * m1 - m2 * m2) / (q2 - q1)  # Snyder (14-14)
        self.C = m1 * m1 + self.n * q1  # Snyder (14-13)
        self.rho0 = self.a * math.sqrt(self.C - self.n * q0) / self.n
        self.c2, self.c4, self.c6 = authalic_coeffs(self.e2)

    def forward(self, lon_deg, lat_deg):
        """(lon, lat) degrees → projected (x, y) meters. Vectorized."""
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        # wrap Δλ to (-π, π] so the cone seam sits opposite lon_0
        dl = np.remainder(lam - self.lon0 + math.pi, 2.0 * math.pi) - math.pi
        theta = self.n * dl  # Snyder (14-4)
        rho = (
            self.a
            * np.sqrt(
                np.maximum(self.C - self.n * q_authalic(np.sin(phi), self.e2), 0.0)
            )
            / self.n
        )  # Snyder (14-12)
        x = rho * np.sin(theta) + self.x0
        y = self.rho0 - rho * np.cos(theta) + self.y0
        return x, y

    def inverse(self, x, y):
        """Projected (x, y) meters → (lon, lat) degrees. Closed form +
        published authalic series; vectorized."""
        xs = np.asarray(x, dtype=np.float64) - self.x0
        ys = self.rho0 - (np.asarray(y, dtype=np.float64) - self.y0)
        sgn = 1.0 if self.n >= 0 else -1.0
        rho = sgn * np.sqrt(xs * xs + ys * ys)
        theta = np.arctan2(sgn * xs, sgn * ys)  # Snyder p.102 sign rule
        qv = (self.C - (rho * self.n / self.a) ** 2) / self.n  # (14-19)
        beta = np.arcsin(np.clip(qv / self.qp, -1.0, 1.0))
        phi = (
            beta
            + self.c2 * np.sin(2.0 * beta)
            + self.c4 * np.sin(4.0 * beta)
            + self.c6 * np.sin(6.0 * beta)
        )
        lam = self.lon0 + theta / self.n  # Snyder (14-9)
        return np.degrees(lam), np.degrees(phi)

    def inverse_sql(self, x_sql: str, y_sql: str) -> tuple[str, str]:
        """(lon_sql, lat_sql) DuckDB twins of ``inverse`` — identical
        operation order, trig-ulp equivalence (laea.inverse_sql
        pattern)."""
        d = sql_double
        sgn = 1.0 if self.n >= 0 else -1.0
        xs = f"(({x_sql}) - {d(self.x0)})"
        ys = f"({d(self.rho0)} - (({y_sql}) - {d(self.y0)}))"
        rho = f"({d(sgn)} * sqrt({xs}*{xs} + {ys}*{ys}))"
        theta = f"atan2({d(sgn)} * {xs}, {d(sgn)} * {ys})"
        rn = f"({rho} * {d(self.n)} / {d(self.a)})"
        qv = f"(({d(self.C)} - {rn} * {rn}) / {d(self.n)})"
        beta = f"asin(least(greatest({qv} / {d(self.qp)}, -1.0), 1.0))"
        phi = (
            f"({beta} + {d(self.c2)} * sin(2.0 * {beta}) + "
            f"{d(self.c4)} * sin(4.0 * {beta})"
            f" + {d(self.c6)} * sin(6.0 * {beta}))"
        )
        lam = f"({d(self.lon0)} + {theta} / {d(self.n)})"
        return f"degrees({lam})", f"degrees({phi})"


# canonical EPSG:5070 instance + module-level API; functions/crs.py maps
# the code to the instance, oracles interpolate its constants
EPSG_5070 = AlbersConic(29.5, 45.5, 23.0, -96.0, 0.0, 0.0)

_N, _RHO0 = EPSG_5070.n, EPSG_5070.rho0

forward = EPSG_5070.forward
inverse = EPSG_5070.inverse
inverse_sql = EPSG_5070.inverse_sql
