"""Lambert conformal conic, ellipsoidal, ANY parameters — from scratch.

EPSG:2154 (RGF93 / Lambert-93: lat_1=49, lat_2=44, lat_0=46.5, lon_0=3,
x_0=700000, y_0=6600000 on GRS80) — the French national grid — is this
module's default instance; `LambertConformal` takes arbitrary standard
parallels / origin / false origin / ellipsoid, which is how user-defined
GeoTIFF GeoKeys (ProjCoordTransGeoKey 8, LCC 2SP) are ingested: the
whole LCC family (national grids across Europe, the US State Plane
system) shares these equations with different numbers. The reference
accepts any rasterio CRS (gigaspatial/handlers/tif_processor.py); no
projection library exists in this container, so this implements the
published ellipsoidal LCC equations (Snyder 1987, "Map Projections — A
Working Manual", pp.107-109, eqs 15-1..15-11) directly — the same
from-scratch pattern as functions/{laea,albers}.py, with the shared
series machinery in functions/ellipsoid.py:

  forward: t(φ) = tan(π/4−φ/2)/[(1−e·sinφ)/(1+e·sinφ)]^(e/2),
           n = (ln m1 − ln m2)/(ln t1 − ln t2), F = m1/(n·t1^n),
           ρ = a·F·t^n, θ = n·(λ − λ0)
  inverse: ρ/θ recovery about ρ0, t = (ρ/(aF))^(1/n),
           χ = π/2 − 2·atan(t), then the published conformal→geodetic
           series (Snyder 3-5, e²…e⁸ terms — sub-µm on GRS80).

The inverse has an exact SQL twin (inverse_sql) so DuckDB oracles
recompute pixel lon/lat identically (trig-ulp envelope, the same
tolerance class as laea/albers/mollweide inverse_sql)."""

from __future__ import annotations

import math

import numpy as np

from .ellipsoid import (
    A_GRS80,
    E2_GRS80,
    conformal_coeffs,
    m_parallel,
    sql_double,
    t_conformal,
)

E2 = E2_GRS80  # back-compat re-export (tests reference lcc.E2)


class LambertConformal:
    """Ellipsoidal Lambert conformal conic (2SP) with arbitrary
    parameters. Degrees in, meters out; n > 0 and n < 0 (southern
    cones) both supported."""

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
                "LCC standard parallels must not be symmetric about the "
                "equator (n = 0 degenerates to Mercator)"
            )
        self.a, self.e2 = float(a), float(e2)
        self.phi1 = math.radians(phi1_deg)
        self.phi2 = math.radians(phi2_deg)
        self.lat0 = math.radians(lat0_deg)
        self.lon0 = math.radians(lon0_deg)
        self.x0, self.y0 = float(x0), float(y0)
        m1 = m_parallel(self.phi1, self.e2)
        m2 = m_parallel(self.phi2, self.e2)
        t0 = float(t_conformal(np.array(self.lat0), self.e2))
        t1 = float(t_conformal(np.array(self.phi1), self.e2))
        t2 = float(t_conformal(np.array(self.phi2), self.e2))
        if abs(self.phi1 - self.phi2) < 1e-12:
            self.n = math.sin(self.phi1)  # 1-SP limit
        else:
            self.n = (math.log(m1) - math.log(m2)) / (
                math.log(t1) - math.log(t2)
            )
        self.F = m1 / (self.n * t1 ** self.n)  # Snyder (15-10)
        self.rho0 = self.a * self.F * t0 ** self.n  # Snyder (15-7a)
        self.d2, self.d4, self.d6, self.d8 = conformal_coeffs(self.e2)

    def forward(self, lon_deg, lat_deg):
        """(lon, lat) degrees → projected (x, y) meters. Vectorized."""
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        # wrap Δλ to (-π, π] so the cone seam sits opposite lon_0
        dl = np.remainder(lam - self.lon0 + math.pi, 2.0 * math.pi) - math.pi
        theta = self.n * dl  # Snyder (14-4)
        rho = self.a * self.F * t_conformal(phi, self.e2) ** self.n
        x = rho * np.sin(theta) + self.x0
        y = self.rho0 - rho * np.cos(theta) + self.y0
        return x, y

    def inverse(self, x, y):
        """Projected (x, y) meters → (lon, lat) degrees. Closed form +
        published conformal series; vectorized."""
        xs = np.asarray(x, dtype=np.float64) - self.x0
        ys = self.rho0 - (np.asarray(y, dtype=np.float64) - self.y0)
        sgn = 1.0 if self.n >= 0 else -1.0
        rho = sgn * np.sqrt(xs * xs + ys * ys)
        theta = np.arctan2(sgn * xs, sgn * ys)  # Snyder p.107 sign rule
        tv = (rho / (self.a * self.F)) ** (1.0 / self.n)  # Snyder (15-11)
        chi = math.pi / 2.0 - 2.0 * np.arctan(tv)  # Snyder (7-13)
        phi = (
            chi
            + self.d2 * np.sin(2.0 * chi)
            + self.d4 * np.sin(4.0 * chi)
            + self.d6 * np.sin(6.0 * chi)
            + self.d8 * np.sin(8.0 * chi)
        )  # Snyder (3-5)
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
        # x ** y in numpy is pow(); DuckDB's ^ operator is the same libm
        tv = f"(({rho} / {d(self.a * self.F)}) ^ {d(1.0 / self.n)})"
        chi = f"({d(math.pi / 2.0)} - 2.0 * atan({tv}))"
        phi = (
            f"({chi} + {d(self.d2)} * sin(2.0 * {chi}) + "
            f"{d(self.d4)} * sin(4.0 * {chi})"
            f" + {d(self.d6)} * sin(6.0 * {chi}) + "
            f"{d(self.d8)} * sin(8.0 * {chi}))"
        )
        lam = f"({d(self.lon0)} + {theta} / {d(self.n)})"
        return f"degrees({lam})", f"degrees({phi})"


# canonical EPSG:2154 instance + module-level API
EPSG_2154 = LambertConformal(49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0)

Y_0 = EPSG_2154.y0
_N, _RHO0 = EPSG_2154.n, EPSG_2154.rho0

forward = EPSG_2154.forward
inverse = EPSG_2154.inverse
inverse_sql = EPSG_2154.inverse_sql
