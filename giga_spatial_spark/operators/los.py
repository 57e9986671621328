"""Line-of-sight / Fresnel-zone link analysis over an elevation raster.

Reference: processing/elevation/los_analyzer.py:310-1043 (LOSAnalyzer —
visual LOS, dual-k-factor Earth-curvature correction, first-Fresnel-zone
clearance margins, bottleneck identification, ITU-R P.526 knife-edge
diffraction loss) and srtm_manager.py:280-360 (get_elevation_profile —
linear lat/lon interpolation, cumulative haversine distances). SURVEY.md
§2.12 scoped this family out as "physics post-processing … in Spark
they'd be column math over an elevation pixel table" — which is exactly
what this module is: every stage is a native column expression, so the
whole plan stays inside whole-stage codegen and the DuckDB oracle can
replay it bit-for-bit.

Plan shape (no UDF anywhere):
  links ─ posexplode(sequence) → per-link sample points (linear interp)
        ─ window lag + running sum → cumulative haversine distance_km
        ─ sample_bilinear (one equi-join keyed by pixel) → elevation
        ─ window endpoints → tx_abs / rx_abs / total_distance
        ─ per-sample clearance / Fresnel margin expressions
        ─ groupBy(link): min margins, first-index argmin bottleneck
          (min over a (margin, i) struct), obstruction count
        ─ knife-edge J(ν) piecewise expression on the bottleneck row.

At fact scale the only shuffles are the pixel equi-join and the per-link
window/agg (keyed by link_id — uniform); the raster side is a pixel table
that can itself be partition-pruned by the links' bbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dialect import spark_col
from ..synth import haversine_sql
from .raster import RasterMeta, sample_bilinear

EARTH_RADIUS_KM = 6371.0
K_MEDIAN = 4.0 / 3.0
K_MIN = 0.6
FRESNEL_CLEAR_MEDIAN = 1.0
FRESNEL_CLEAR_MIN = 0.6


def _bulge_m(d_km, total_km, k):
    """Earth bulge h(d) = d·(D−d) / (2·k·Re) · 1000 m (los_analyzer.py:
    _earth_curvature_correction)."""
    return d_km * (total_km - d_km) / (2.0 * k * EARTH_RADIUS_KM) * 1000.0


def _knife_edge_db(h_m, d1_km, d2_km, wavelength_m):
    """ITU-R P.526 piecewise J(ν) (los_analyzer.py:_knife_edge_loss),
    as one nested-CASE column expression."""
    d1 = d1_km * 1000.0
    d2 = d2_km * 1000.0
    nu = h_m * F.sqrt(2.0 * (d1 + d2) / (wavelength_m * d1 * d2))
    log20 = lambda x: 20.0 * F.log(10.0, x)  # noqa: E731
    inner = 0.1184 - (0.38 - 0.1 * nu) * (0.38 - 0.1 * nu)
    return (
        F.when((d1 <= 0) | (d2 <= 0), 0.0)
        .when(nu <= -0.7, 0.0)
        .when(nu <= 0.0, log20(0.5 - 0.62 * nu))
        .when(nu <= 1.0, log20(0.5 * F.exp(-0.95 * nu)))
        .when(nu <= 2.4, log20(0.4 - F.sqrt(F.greatest(inner, F.lit(0.0)))))
        .otherwise(log20(0.225 / nu))
    )


def azimuth_deg_expr(lat1, lon1, lat2, lon2):
    """Forward azimuth in degrees [0, 360) (los_analyzer.py:
    _calculate_azimuth)."""
    la1, la2 = F.radians(lat1), F.radians(lat2)
    dlon = F.radians(lon2 - lon1)
    x = F.sin(dlon) * F.cos(la2)
    y = F.cos(la1) * F.sin(la2) - F.sin(la1) * F.cos(la2) * F.cos(dlon)
    return F.pmod(F.degrees(F.atan2(x, y)) + 360.0, F.lit(360.0))


def elevation_angle_deg_expr(d_km, tx_abs_m, rx_abs_m, k=K_MEDIAN):
    """Mechanical tilt angle with curvature drop (los_analyzer.py:
    _calculate_elevation_angle)."""
    drop_m = (d_km * d_km * 1000.0) / (2.0 * k * EARTH_RADIUS_KM)
    return F.when(d_km <= 0, 0.0).otherwise(
        F.degrees(F.atan2(rx_abs_m - tx_abs_m - drop_m, d_km * 1000.0))
    )


def radio_horizon_km_expr(tx_h_m, rx_h_m, k=K_MEDIAN):
    """Smooth-earth radio horizon d = √(2·Re·k·h1) + √(2·Re·k·h2) — the
    O(1) pre-filter (los_analyzer.py:calculate_radio_horizon_km)."""
    r_eff = EARTH_RADIUS_KM * k
    return F.sqrt(2.0 * r_eff * tx_h_m / 1000.0) + F.sqrt(
        2.0 * r_eff * rx_h_m / 1000.0
    )


def los_analyze(
    links: DataFrame,
    pixels: DataFrame,
    meta: RasterMeta = RasterMeta(),
    num_points: int = 100,
    k_median: float = K_MEDIAN,
    k_min: float = K_MIN,
    clear_median: float = FRESNEL_CLEAR_MEDIAN,
    clear_min: float = FRESNEL_CLEAR_MIN,
    apply_earth_curvature: bool = True,
) -> DataFrame:
    """links: (link_id, lon1, lat1, lon2, lat2, tx_height_m, rx_height_m,
    frequency_mhz) → one row per link with the LOSResult summary fields
    (reference analyze_profile, los_analyzer.py:515-740). Elevations come
    from bilinear interpolation on the pixel table; a link whose profile
    touches nodata/off-grid yields NULL flags (NULL propagates)."""
    n = num_points
    samples = links.select(
        "*", F.posexplode(F.sequence(F.lit(0), F.lit(n - 1))).alias("i", "_x")
    ).drop("_x")
    t = F.col("i") / float(n - 1)
    samples = samples.withColumn(
        "lat", F.col("lat1") + t * (F.col("lat2") - F.col("lat1"))
    ).withColumn("lon", F.col("lon1") + t * (F.col("lon2") - F.col("lon1")))

    wseq = Window.partitionBy("link_id").orderBy("i")
    wall = Window.partitionBy("link_id")
    lag = "lag({}) OVER (PARTITION BY link_id ORDER BY i)".format
    seg_km = spark_col(haversine_sql(lag("lat"), lag("lon"), "lat", "lon")) / 1000.0
    samples = samples.withColumn("seg_km", F.coalesce(seg_km, F.lit(0.0)))
    samples = samples.withColumn(
        "distance_km",
        F.sum("seg_km").over(wseq.rowsBetween(Window.unboundedPreceding, 0)),
    )

    prof = sample_bilinear(samples, pixels, meta, out_col="elevation")

    # a single nodata/off-grid sample invalidates the whole link (the
    # reference RAISES on missing tiles; min()-style aggs would otherwise
    # silently skip the NULL samples and understate obstruction)
    prof = prof.withColumn(
        "bad_n", F.sum(F.col("elevation").isNull().cast("int")).over(wall)
    )
    prof = (
        prof.withColumn(
            "tx_abs",
            F.max(F.when(F.col("i") == 0, F.col("elevation"))).over(wall)
            + F.col("tx_height_m"),
        )
        .withColumn(
            "rx_abs",
            F.max(F.when(F.col("i") == n - 1, F.col("elevation"))).over(wall)
            + F.col("rx_height_m"),
        )
        .withColumn("total_km", F.max("distance_km").over(wall))
    )
    tt = F.col("distance_km") / F.col("total_km")
    los_h = F.col("tx_abs") + tt * (F.col("rx_abs") - F.col("tx_abs"))
    if apply_earth_curvature:
        bulge_med = _bulge_m(F.col("distance_km"), F.col("total_km"), k_median)
        bulge_min = _bulge_m(F.col("distance_km"), F.col("total_km"), k_min)
    else:
        bulge_med = bulge_min = F.lit(0.0)
    d1 = F.col("distance_km")
    d2 = F.col("total_km") - F.col("distance_km")
    freq_ghz = F.col("frequency_mhz") / 1000.0
    fresnel = 17.32 * F.sqrt((d1 * d2) / (freq_ghz * F.col("total_km")))
    prof = (
        prof.withColumn("clear_med", los_h - (F.col("elevation") + bulge_med))
        .withColumn("clear_min", los_h - (F.col("elevation") + bulge_min))
        .withColumn("fresnel_m", fresnel)
    )
    prof = prof.withColumn(
        "margin_med", F.col("clear_med") - F.col("fresnel_m") * clear_median
    ).withColumn(
        "margin_min", F.col("clear_min") - F.col("fresnel_m") * clear_min
    )

    inner = prof.where((F.col("i") > 0) & (F.col("i") < n - 1))
    agg = inner.groupBy(
        "link_id", "lat1", "lon1", "lat2", "lon2",
        "tx_height_m", "rx_height_m", "frequency_mhz",
    ).agg(
        F.min("clear_med").alias("min_clear_med"),
        F.min("margin_med").alias("margin_median_m"),
        F.min("margin_min").alias("margin_worst_case_m"),
        # first-index argmin, exactly the reference's np.argmin semantics:
        # lexicographic min over (margin, i) then the carried payload
        F.min(
            F.struct(
                F.col("margin_min"), F.col("i"), F.col("distance_km"),
                F.col("clear_min"),
            )
        ).alias("_bn"),
        F.sum(F.when(F.col("margin_min") < 0.0, 1).otherwise(0)).alias(
            "obstruction_count_worst_case"
        ),
        F.max("tx_abs").alias("tx_abs"),
        F.max("rx_abs").alias("rx_abs"),
        F.max("total_km").alias("total_distance_km"),
        F.max("bad_n").alias("bad_n"),
    )
    bn_d1 = F.col("_bn.distance_km")
    bn_d2 = F.col("total_distance_km") - bn_d1
    wavelength = 300.0 / F.col("frequency_mhz")
    passes_worst = F.when(
        F.col("margin_worst_case_m").isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.col("margin_worst_case_m") >= 0.0)
    out = (
        agg.withColumn("is_visual_los", F.col("min_clear_med") >= 0.0)
        .withColumn(
            "passes_median_clearance", F.col("margin_median_m") >= 0.0
        )
        .withColumn("passes_worst_case_clearance", passes_worst)
        .withColumn("bottleneck_distance_worst_case_km", bn_d1)
        .withColumn(
            "knife_edge_loss_worst_case_db",
            F.when(
                passes_worst == False,  # noqa: E712 — reference gates on is False
                # h above the LOS line = −clearance at the worst-case
                # bottleneck (reference: -clearance_worst[bottleneck_idx])
                _knife_edge_db(-F.col("_bn.clear_min"), bn_d1, bn_d2, wavelength),
            ),
        )
        .withColumn(
            "azimuth_deg",
            azimuth_deg_expr(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")),
        )
        .withColumn(
            "elevation_angle_deg",
            elevation_angle_deg_expr(
                F.col("total_distance_km"), F.col("tx_abs"), F.col("rx_abs"), k_median
            ),
        )
    )
    valid = F.col("bad_n") == 0
    out_cols = [
        "is_visual_los", "passes_median_clearance",
        "passes_worst_case_clearance", "margin_median_m",
        "margin_worst_case_m", "bottleneck_distance_worst_case_km",
        "obstruction_count_worst_case", "knife_edge_loss_worst_case_db",
        "azimuth_deg", "elevation_angle_deg", "total_distance_km",
    ]
    return out.select(
        "link_id", *[F.when(valid, F.col(c)).alias(c) for c in out_cols]
    )


# -------------------------------------------------------------- oracle SQL
def los_analyze_sql(
    links_values: str,
    raster_cte: str,
    meta: RasterMeta = RasterMeta(),
    num_points: int = 100,
    k_median: float = K_MEDIAN,
    k_min: float = K_MIN,
    clear_median: float = FRESNEL_CLEAR_MEDIAN,
    clear_min: float = FRESNEL_CLEAR_MIN,
) -> str:
    """DuckDB twin of los_analyze: every expression mirrors the Column
    tree with the same operand order and the same Python-folded constant
    denominators, so doubles come out bit-identical (haversine sin/cos/asin
    parity already verified by the kNN/range oracles; atan2/log10/exp
    verified by q_los). `links_values` is a VALUES list of
    (link_id, lon1, lat1, lon2, lat2, tx_height_m, rx_height_m,
    frequency_mhz) with repr() double literals."""
    n = num_points
    denom_med = repr(2.0 * k_median * EARTH_RADIUS_KM)
    denom_min = repr(2.0 * k_min * EARTH_RADIUS_KM)
    hav = haversine_sql("lag_lat", "lag_lon", "lat", "lon")
    return f"""
WITH links(link_id, lon1, lat1, lon2, lat2, tx_height_m, rx_height_m, frequency_mhz)
  AS (VALUES {links_values}),
raster AS ({raster_cte}),
idx AS (SELECT unnest(range({n})) AS i),
s AS (
  SELECT l.*, idx.i,
    lat1 + (i / {float(n - 1)!r}) * (lat2 - lat1) AS lat,
    lon1 + (i / {float(n - 1)!r}) * (lon2 - lon1) AS lon
  FROM links l CROSS JOIN idx
),
lagged AS (
  SELECT *, lag(lat) OVER w AS lag_lat, lag(lon) OVER w AS lag_lon
  FROM s WINDOW w AS (PARTITION BY link_id ORDER BY i)
),
seg AS (
  SELECT *, coalesce({hav} / 1000.0, 0.0) AS seg_km FROM lagged
),
dist AS (
  SELECT *, sum(seg_km) OVER (PARTITION BY link_id ORDER BY i
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS distance_km
  FROM seg
),
k2 AS (
  SELECT *,
    cast(floor((lon - {meta.lon0}) / {meta.dx!r} - 0.5) AS BIGINT) AS x0,
    cast(floor((lat - {meta.lat0}) / {meta.dy!r} - 0.5) AS BIGINT) AS y0,
    ((lon - {meta.lon0}) / {meta.dx!r} - 0.5) -
      cast(floor((lon - {meta.lon0}) / {meta.dx!r} - 0.5) AS BIGINT) AS wx,
    ((lat - {meta.lat0}) / {meta.dy!r} - 0.5) -
      cast(floor((lat - {meta.lat0}) / {meta.dy!r} - 0.5) AS BIGINT) AS wy
  FROM dist
),
cand AS (
  SELECT k2.*, o.odx, o.ody, x0 + o.odx AS px, y0 + o.ody AS py
  FROM k2 CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) o(odx, ody)
),
j AS (SELECT cand.*, r.value FROM cand LEFT JOIN raster r USING (px, py)),
piv AS (
  SELECT link_id, i, any_value(lat1) AS lat1, any_value(lon1) AS lon1,
    any_value(lat2) AS lat2, any_value(lon2) AS lon2,
    any_value(tx_height_m) AS tx_height_m, any_value(rx_height_m) AS rx_height_m,
    any_value(frequency_mhz) AS frequency_mhz,
    any_value(distance_km) AS distance_km, any_value(wx) AS wx, any_value(wy) AS wy,
    max(CASE WHEN odx = 0 AND ody = 0 THEN value END) AS v00,
    max(CASE WHEN odx = 1 AND ody = 0 THEN value END) AS v10,
    max(CASE WHEN odx = 0 AND ody = 1 THEN value END) AS v01,
    max(CASE WHEN odx = 1 AND ody = 1 THEN value END) AS v11
  FROM j GROUP BY link_id, i
),
prof0 AS (
  SELECT *, ((1.0 - wx) * (1.0 - wy)) * v00 + (wx * (1.0 - wy)) * v10 +
    ((1.0 - wx) * wy) * v01 + (wx * wy) * v11 AS elevation
  FROM piv
),
prof1 AS (
  SELECT *,
    sum(CASE WHEN elevation IS NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY link_id) AS bad_n,
    max(CASE WHEN i = 0 THEN elevation END) OVER (PARTITION BY link_id)
      + tx_height_m AS tx_abs,
    max(CASE WHEN i = {n - 1} THEN elevation END) OVER (PARTITION BY link_id)
      + rx_height_m AS rx_abs,
    max(distance_km) OVER (PARTITION BY link_id) AS total_km
  FROM prof0
),
prof2 AS (
  SELECT *,
    (tx_abs + (distance_km / total_km) * (rx_abs - tx_abs))
      - (elevation + distance_km * (total_km - distance_km) / {denom_med} * 1000.0)
      AS clear_med,
    (tx_abs + (distance_km / total_km) * (rx_abs - tx_abs))
      - (elevation + distance_km * (total_km - distance_km) / {denom_min} * 1000.0)
      AS clear_min,
    17.32 * sqrt((distance_km * (total_km - distance_km)) /
      ((frequency_mhz / 1000.0) * total_km)) AS fresnel_m
  FROM prof1
),
prof3 AS (
  SELECT *, clear_med - fresnel_m * {clear_median!r} AS margin_med,
    clear_min - fresnel_m * {clear_min!r} AS margin_min
  FROM prof2
),
inner_s AS (SELECT * FROM prof3 WHERE i > 0 AND i < {n - 1}),
bn AS (
  SELECT link_id, distance_km AS bn_km, clear_min AS bn_clear,
    row_number() OVER (PARTITION BY link_id ORDER BY margin_min, i) AS rn
  FROM inner_s
),
agg AS (
  SELECT link_id, any_value(frequency_mhz) AS frequency_mhz,
    any_value(lat1) AS lat1, any_value(lon1) AS lon1,
    any_value(lat2) AS lat2, any_value(lon2) AS lon2,
    min(clear_med) AS min_clear_med,
    min(margin_med) AS margin_median_m,
    min(margin_min) AS margin_worst_case_m,
    cast(sum(CASE WHEN margin_min < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
      AS obstruction_count_worst_case,
    max(tx_abs) AS tx_abs, max(rx_abs) AS rx_abs,
    max(total_km) AS total_distance_km, max(bad_n) AS bad_n
  FROM inner_s GROUP BY link_id
),
wide AS (
  SELECT a.*, b.bn_km, b.bn_clear FROM agg a JOIN bn b USING (link_id)
  WHERE b.rn = 1
),
res AS (
  SELECT link_id,
    min_clear_med >= 0.0 AS is_visual_los,
    margin_median_m >= 0.0 AS passes_median_clearance,
    margin_worst_case_m >= 0.0 AS passes_worst_case_clearance,
    margin_median_m, margin_worst_case_m,
    bn_km AS bottleneck_distance_worst_case_km,
    obstruction_count_worst_case,
    CASE WHEN margin_worst_case_m >= 0.0 THEN NULL ELSE (
      CASE
        WHEN bn_km * 1000.0 <= 0 OR (total_distance_km - bn_km) * 1000.0 <= 0 THEN 0.0
        WHEN (-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
          / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))) <= -0.7
          THEN 0.0
        WHEN (-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
          / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))) <= 0.0
          THEN 20.0 * log10(0.5 - 0.62 * ((-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
            / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0)))))
        WHEN (-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
          / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))) <= 1.0
          THEN 20.0 * log10(0.5 * exp(-0.95 * ((-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
            / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))))))
        WHEN (-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
          / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))) <= 2.4
          THEN 20.0 * log10(0.4 - sqrt(greatest(0.1184 -
            (0.38 - 0.1 * ((-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
              / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))))) *
            (0.38 - 0.1 * ((-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
              / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0))))), 0.0)))
        ELSE 20.0 * log10(0.225 / ((-bn_clear) * sqrt(2.0 * ((bn_km * 1000.0) + ((total_distance_km - bn_km) * 1000.0))
          / ((300.0 / frequency_mhz) * (bn_km * 1000.0) * ((total_distance_km - bn_km) * 1000.0)))))
      END) END AS knife_edge_loss_worst_case_db,
    fmod(degrees(atan2(
      sin(radians(lon2 - lon1)) * cos(radians(lat2)),
      cos(radians(lat1)) * sin(radians(lat2)) -
        sin(radians(lat1)) * cos(radians(lat2)) * cos(radians(lon2 - lon1))
    )) + 360.0, 360.0) AS azimuth_deg,
    CASE WHEN total_distance_km <= 0 THEN 0.0 ELSE
      degrees(atan2(rx_abs - tx_abs - (total_distance_km * total_distance_km * 1000.0) / {denom_med},
                    total_distance_km * 1000.0)) END AS elevation_angle_deg,
    total_distance_km, bad_n
  FROM wide
)
SELECT cast(link_id AS BIGINT) AS link_id,
  CASE WHEN bad_n = 0 THEN is_visual_los END AS is_visual_los,
  CASE WHEN bad_n = 0 THEN passes_median_clearance END AS passes_median_clearance,
  CASE WHEN bad_n = 0 THEN passes_worst_case_clearance END AS passes_worst_case_clearance,
  CASE WHEN bad_n = 0 THEN round(margin_median_m, 6) END AS margin_median_m,
  CASE WHEN bad_n = 0 THEN round(margin_worst_case_m, 6) END AS margin_worst_case_m,
  CASE WHEN bad_n = 0 THEN round(bottleneck_distance_worst_case_km, 6) END AS bottleneck_distance_worst_case_km,
  CASE WHEN bad_n = 0 THEN obstruction_count_worst_case END AS obstruction_count_worst_case,
  CASE WHEN bad_n = 0 THEN round(knife_edge_loss_worst_case_db, 6) END AS knife_edge_loss_worst_case_db,
  CASE WHEN bad_n = 0 THEN round(azimuth_deg, 6) END AS azimuth_deg,
  CASE WHEN bad_n = 0 THEN round(elevation_angle_deg, 6) END AS elevation_angle_deg,
  CASE WHEN bad_n = 0 THEN round(total_distance_km, 6) END AS total_distance_km
FROM res
"""


# ---------------------------------------------------- ITU-R P.453 k-factors
# Reference: processing/elevation/refractivity.py — the deterministic
# fallback path (climate-zone LUT; the itur digital-map backend is a
# network-installed optional the reference itself falls back from). The
# whole model is pure arithmetic + CASE, written once as SQL: the DuckDB
# oracle runs it as is and the engine parses it with ``spark_col``.

# ΔN₁ medians (N-units/km), ITU-R P.453-14 Figures 4-7
# (refractivity.py:_ZONE_DN1_MEDIAN)
ZONE_DN1_MEDIAN = {
    "tropical": 55.0,
    "subtropical_dry": 32.0,
    "temperate": 40.0,
    "polar": 27.0,
}
_EARTH_RADIUS_KM_453 = 6371.0


def k_factor_from_dn1(dn1: float) -> float:
    """k = 1 / (1 + a·dN/dh), dN/dh = −ΔN₁·10⁻⁶ (refractivity.py:
    k_factor_from_dn1 — incl. the non-physical fallback to 4/3)."""
    denominator = 1.0 + _EARTH_RADIUS_KM_453 * (-dn1 * 1e-6)
    if denominator <= 0.001:
        return 4.0 / 3.0
    k = 1.0 / denominator
    return k if k > 0 else 4.0 / 3.0


def k_factor_worst_expr(path_length_km):
    """Worst-case (sub-refractive) k per link length (refractivity.py:
    get_worst_case_k_factor — ITU-R P.530 clearance tiers)."""
    return (
        F.when(path_length_km <= 15.0, F.lit(0.8))
        .when(path_length_km <= 50.0, F.lit(0.7))
        .otherwise(F.lit(0.6))
    )


def climate_zone_sql(lat_sql: str, lon_sql: str) -> str:
    """ITU climate zone per location (refractivity.py:classify_climate_zone
    — latitude bands; arid-corridor longitude refinement for the
    subtropical band: Sahara/Middle-East, Australian interior, Atacama)."""
    ln = f"((( {lon_sql} ) % 360 + 360) % 360)"
    arid = (
        f"(({ln} >= 340 OR {ln} <= 60) "
        f"OR ({ln} >= 115 AND {ln} <= 155 AND ({lat_sql}) < 0) "
        f"OR ({ln} >= 282 AND {ln} <= 292 AND ({lat_sql}) < 0))"
    )
    return (
        f"CASE WHEN abs({lat_sql}) >= 60.0 THEN 'polar' "
        f"WHEN abs({lat_sql}) >= 35.0 THEN 'temperate' "
        f"WHEN abs({lat_sql}) >= 23.0 THEN "
        f"(CASE WHEN {arid} THEN 'subtropical_dry' ELSE 'temperate' END) "
        "ELSE 'tropical' END"
    )


def k_factor_median_sql(lat_sql: str, lon_sql: str) -> str:
    """Median effective-Earth-radius factor per location (zone LUT →
    k_factor_from_dn1, folded in Python into double literals)."""
    zone = climate_zone_sql(lat_sql, lon_sql)
    cases = " ".join(
        f"WHEN '{name}' THEN {k_factor_from_dn1(dn1)!r}"
        for name, dn1 in ZONE_DN1_MEDIAN.items()
    )
    return f"(CASE ({zone}) {cases} END)"
