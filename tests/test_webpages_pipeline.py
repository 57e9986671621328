"""Web-pages generation + extraction invariant + flagship pipeline."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from giga_spatial_spark import synth
from giga_spatial_spark.functions.text import (
    extract_geo_entities_py,
    extract_text_py,
)
from giga_spatial_spark.pipeline import (
    enrich,
    enrich_fused,
    entity_points,
    extract_stage,
    verify_extraction_invariant,
)
from giga_spatial_spark.sources.webpages import _make_batch, webpages_df


def test_extract_text_golden():
    html = (
        b"<html><head><style>p{}</style><script>var x=1;</script></head>"
        b"<body><h1>A &amp; B</h1><p>hello  world</p><p>l&#39;eau</p>"
        b"<!-- c --></body></html>"
    )
    assert extract_text_py(html) == "A & B\nhello world\nl'eau"


def test_extract_geo_entities():
    txt = "see (40.7100, -74.0000) and (-33.8700, 151.2100) but not (999, 5)"
    assert extract_geo_entities_py(txt) == [(40.71, -74.0), (-33.87, 151.21)]


def test_generation_deterministic_across_partitioning(spark):
    a = webpages_df(spark, 200, partitions=2).orderBy("url").toPandas()
    b = webpages_df(spark, 200, partitions=7).orderBy("url").toPandas()
    assert a["url"].tolist() == b["url"].tolist()
    assert all(x == y for x, y in zip(a["html"], b["html"]))
    assert a["text"].tolist() == b["text"].tolist()


def test_byte_identical_extraction_invariant(spark):
    pages = webpages_df(spark, 300)
    assert verify_extraction_invariant(pages) == 0


def test_entity_points_and_skew(spark):
    pages = webpages_df(spark, 1000)
    pts = entity_points(extract_stage(pages)).toPandas()
    # ids 0..999, mentions = id % 4 → expected sum = sum(i % 4)
    assert len(pts) == sum(i % 4 for i in range(1000))
    assert pts["lat"].between(-90, 90).all()
    # skew: ~30% of mentions near the 3 hot clusters
    hot = (
        pts[["lat", "lon"]]
        .apply(
            lambda r: any(
                abs(r.lat - hl) < 0.2 and abs(r.lon - ho) < 0.2
                for hl, ho in [(40.71, -74.0), (51.5, -0.12), (35.68, 139.69)]
            ),
            axis=1,
        )
        .mean()
    )
    assert 0.2 < hot < 0.4


def test_enrich_end_to_end(spark):
    pages = webpages_df(spark, 500)
    polys = synth.make_admin_polygons()
    out = enrich(pages, polys).toPandas()
    assert set(out.columns) == {"zone_id", "tile", "mention_count"}
    assert (out["mention_count"] > 0).all()
    # cross-check total against a pandas replay of PIP on the exploded points
    pts = entity_points(extract_stage(pages)).toPandas()
    from giga_spatial_spark.geometry import convex_contains

    expected = 0
    for zid, poly in polys.items():
        expected += int(
            convex_contains(poly, pts["lon"].to_numpy(), pts["lat"].to_numpy()).sum()
        )
    assert out["mention_count"].sum() == expected


def _batch_digest(pdf):
    h = hashlib.sha256(",".join(pdf.columns).encode())
    h.update(pdf["warc_ts"].to_numpy().astype("datetime64[ns]").astype(np.int64).tobytes())
    for col in ("url", "html", "text", "lang"):
        for v in pdf[col]:
            b = v if isinstance(v, bytes) else v.encode("utf-8")
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def test_generator_bytes_pinned():
    """The benchmark's input and oracle caches key on the generated bytes:
    the generator must keep producing exactly these rows."""
    assert _batch_digest(_make_batch(np.arange(2000))) == (
        "5561e2e6188b899fce925c6cee8e6aaf0be03ba0e8eb413f962875ee0725cef9"
    )


def test_enrich_fused_equals_modular(spark):
    """The fused kernel skips the whitespace tail and scans each Arrow batch
    in one regex pass; its rollup must equal the modular pipeline's, also
    on pages built to trip that shortcut."""
    def rollup(df):
        return (
            df.toPandas().sort_values(["zone_id", "tile"]).reset_index(drop=True)
        )

    pages = webpages_df(spark, 400)
    polys = synth.make_admin_polygons()
    pd.testing.assert_frame_equal(
        rollup(enrich_fused(pages, polys)), rollup(enrich(pages, polys))
    )

    # adversarial pages under one zone covering all test coordinates; every
    # mention k sits at (la[k], lo[k]) in its own tile, so a single extra or
    # missing mention shows
    la = [f"{-60 + 1.7 * k:.4f}" for k in range(12)]
    lo = [f"{-150 + 2.9 * k:.4f}" for k in range(12)]
    bodies = [
        f'<a title="({la[0]}, {lo[0]})">attribute only</a> ({la[1]}, {lo[1]})',
        f"<p>({la[2]},\n{lo[2]})</p> and ({la[3]},\r\n\t {lo[3]})",
        f"({la[4]},<br>{lo[4]}) ({la[5]},</p><div>{lo[5]})"
        f" ({la[6]},</li>\n<li>{lo[6]})",
        f"<p>({la[7]}</p>, {lo[7]}) (95.0, {lo[7]}) ({la[7]}, 181.5)"
        f" (-90.5, {lo[7]})",
        f"&#40;{la[8]}, {lo[8]}&#41; （{la[9]}，\u3000{lo[9]}）",
        # a pair split across two pages must not match
        f"ends with ({la[10]},",
        f" {lo[10]}) <!-- ({la[11]}, {lo[11]}) -->"
        f" <script>({la[11]}, {lo[11]})</script>",
    ]
    adv = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://adversarial.example/{i}" for i in range(len(bodies))],
        "warc_ts": pd.Timestamp("2020-01-01"),
        "html": [f"<html><body>{s}</body></html>".encode() for s in bodies],
        "text": "",
        "lang": "en",
    })).coalesce(1)
    world = {0: np.array([[-170.0, -80.0], [170.0, -80.0], [170.0, 80.0], [-170.0, 80.0]])}
    fused = rollup(enrich_fused(adv, world))
    assert len(fused) == 8 and (fused["mention_count"] == 1).all()
    pd.testing.assert_frame_equal(fused, rollup(enrich(adv, world)))
