"""The flagship spatial-enrichment pipeline over the web-pages table —
the workload BASELINE.json's throughput metric (docs/sec) measures.

Stages (all declarative; the only Python is two chained Arrow UDFs, one
eval node):
  1. scan (url, warc_ts, html, lang)            — parquet/Iceberg scan
  2. extract_text(html)                         — pandas UDF (invariant stage)
  3. extract_geo_entities(text) → explode       — pandas UDF → posexplode;
     with stage 2 one chained eval of extract_geo_entities(extract_text(html))
  4. tile assignment (mercator, native math)    — whole-stage codegen
  5. PIP tag vs admin polygons                  — broadcast cover join whose
     condition is the convex edge conjunction   — whole-stage codegen
  6. zonal rollup with hot-cell salting         — two-stage aggregation

Skew: generated pages put ~30% of mentions in 3 hot tiles. The rollup
pre-aggregates on (zone, tile, salt) before the final (zone, tile) combine,
so no single reducer owns a hot tile; AQE skew-join handles the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells
from .functions.text import extract_geo_entities, extract_text
from .operators.pip_join import pip_join_rtree

TILE_ZOOM = 8
PIP_ZOOM = 6
SALT_BUCKETS = 16


def extract_stage(pages: DataFrame) -> DataFrame:
    """html → text (byte-identical invariant stage)."""
    return pages.withColumn("extracted", extract_text(F.col("html")))


def entity_points(pages_extracted: DataFrame) -> DataFrame:
    """One row per geo mention: (url, mention_idx, lat, lon); none for a
    page with a null or empty entity list."""
    ents = pages_extracted.withColumn(
        "ents", extract_geo_entities(F.col("extracted"))
    )
    return (
        ents.select(
            "url",
            "lang",
            # Not posexplode: Catalyst infers `size(ents) > 0` under a plain
            # generator and pushes it below this alias by inlining the UDF
            # chain, which then runs twice per page. Outer generators get no
            # inferred filter; the null row they emit for a null or empty
            # list is dropped here, so the rows are posexplode's.
            F.posexplode_outer("ents").alias("mention_idx", "ent"),
        )
        .where(F.col("mention_idx").isNotNull())
        .select(
            "url",
            "lang",
            "mention_idx",
            F.col("ent.ent_lat").alias("lat"),
            F.col("ent.ent_lon").alias("lon"),
        )
    )


def enrich(pages: DataFrame, admin_polys, tile_zoom: int = TILE_ZOOM,
           pip_zoom: int = PIP_ZOOM) -> DataFrame:
    """Full pipeline → per-(zone, tile) mention counts."""
    pts = entity_points(extract_stage(pages))
    tagged = pip_join_rtree(pts, admin_polys, zoom=pip_zoom, convex=True)
    tiled = tagged.withColumn(
        "tile", cells.tile_id(F.col("lon"), F.col("lat"), tile_zoom)
    )
    return salted_count(tiled, ["zone_id", "tile"], "mention_count")


def enrich_fused(pages: DataFrame, admin_polys,
                 tile_zoom: int = TILE_ZOOM) -> DataFrame:
    """Single-Python-pass variant of :func:`enrich` — identical output.

    The modular pipeline's one chained extract→entity UDF eval returns
    each page's entity list to the JVM, which explodes and PIP-tags it.
    At 10^12 rows the Arrow (de)serialization of that intermediate column
    dominates, so the scale path fuses html → coordinates → GridIndex PIP
    → tile math into ONE mapInPandas kernel: scan → fused kernel → salted
    rollup. One python exchange, no intermediate text column ever
    serialized.

    The rollup reads only the coordinates, so the kernel computes only
    those: ``geo_points_batch`` runs the markup half of extract_text_py
    (no whitespace tail) and one coordinate regex pass per Arrow batch.
    Exact, because the tail never creates or destroys a coordinate match
    (functions/text.py module docstring).
    """
    import numpy as np
    import pandas as pd

    from . import cells as _cells
    from .functions.text import geo_points_batch
    from .geometry import GridIndex

    spark = pages.sparkSession
    bc = spark.sparkContext.broadcast(
        {int(k): np.asarray(v, dtype=np.float64) for k, v in admin_polys.items()}
    )

    def kernel(batches):
        index = GridIndex(bc.value)
        for pdf in batches:
            lat, lon = geo_points_batch(pdf["html"])
            if not len(lat):
                continue
            idx, pid = index.query_points(lon, lat, convex=True)
            if not len(idx):
                continue
            tx, ty = _cells.tile_xy_np(lon[idx], lat[idx], tile_zoom)
            yield pd.DataFrame(
                {
                    "zone_id": pid.astype(np.int64).astype(np.int32),
                    "tile": _cells.pack_tile(tx, ty),
                }
            )

    # a null page has no text and so no mentions (enrich drops it too);
    # the filter runs in the JVM and is pushed to the scan
    tagged = (
        pages.where(F.col("html").isNotNull())
        .select("html")
        .mapInPandas(kernel, schema="zone_id int, tile bigint")
    )
    return salted_count(tagged, ["zone_id", "tile"], "mention_count")


def salted_count(df: DataFrame, keys: list[str], out_col: str,
                 buckets: int = SALT_BUCKETS) -> DataFrame:
    """Two-stage aggregation: partial count on (keys..., salt) — salt derived
    from a spread hash so a hot key's rows split across `buckets` reducers —
    then final combine on keys. (Spark's hash agg already does map-side
    partials; explicit salting additionally splits the *reduce* side of a
    hot key, the SURVEY.md §4 skew action.)"""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets))
    )
    partial = salted.groupBy(*keys, "__salt").agg(F.count(F.lit(1)).alias("__c"))
    return partial.groupBy(*keys).agg(F.sum("__c").cast("long").alias(out_col))


def verify_extraction_invariant(pages: DataFrame) -> int:
    """Count rows violating text == extract_text(html); 0 required
    (the BASELINE.json per-row invariant)."""
    return (
        extract_stage(pages)
        .where(F.col("extracted") != F.col("text"))
        .count()
    )
