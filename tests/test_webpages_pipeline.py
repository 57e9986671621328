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
from giga_spatial_spark.streaming.pipeline import streaming_enrich
from tools.python_plan_scan import executed_plan, python_nodes


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


def _eval_nodes(df):
    return [n for n, _ in python_nodes(executed_plan(df)) if n == "ArrowEvalPython"]


def test_entity_points_evaluates_the_udf_chain_once(spark):
    """html → text → entities is one ArrowEvalPython node. Under a plain
    posexplode Catalyst pushes its inferred `size(ents) > 0` filter below
    the `ents` alias and so evaluates the whole chain a second time."""
    pages = webpages_df(spark, 40)
    assert len(_eval_nodes(entity_points(extract_stage(pages)))) == 1
    streamed = streaming_enrich(pages, synth.make_admin_polygons())
    assert len(_eval_nodes(streamed)) == 1


def test_entity_points_rows_equal_python(spark):
    """The outer explode plus its null filter keeps posexplode's rows: no
    row for a null page or one without mentions, mention_idx 0..k-1."""
    def coord(k):
        return f"({-30 + 7.5 * k:.4f}, {20 - 11.25 * k:.4f})"

    htmls = [
        None,
        b"<html><body><p>no coordinate here (1, 2</p></body></html>",
        f"<p>one {coord(0)}</p>".encode(),
        f"<p>{coord(1)} then {coord(2)}</p><div>and {coord(3)}</div>".encode(),
        f"<script>var p = {coord(4)};</script><p>script only</p>".encode(),
        b"",
    ]
    pdf = pd.DataFrame({
        "url": [f"https://hand.example/{i}" for i in range(len(htmls))],
        "html": htmls,
        "lang": "en",
    })
    pages = spark.createDataFrame(pdf, "url string, html binary, lang string")
    got = sorted(
        tuple(r)
        for r in entity_points(extract_stage(pages))
        .select("url", "mention_idx", "lat", "lon")
        .collect()
    )
    want = sorted(
        (url, k, lat, lon)
        for url, html in zip(pdf["url"], htmls)
        if html is not None
        for k, (lat, lon) in enumerate(
            extract_geo_entities_py(extract_text_py(html))
        )
    )
    assert [(u[-1], k) for u, k, _, _ in got] == [
        ("2", 0), ("3", 0), ("3", 1), ("3", 2)
    ]
    assert got == want


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


def rollup(df):
    return df.toPandas().sort_values(["zone_id", "tile"]).reset_index(drop=True)


def test_enrich_fused_equals_modular(spark):
    """The fused kernel skips the whitespace tail and scans each Arrow batch
    in one regex pass; its rollup must equal the modular pipeline's, also
    on pages built to trip that shortcut."""
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


def test_enrich_fused_drops_null_html(spark):
    """A page with a null html has no mentions: the fused kernel drops it,
    as the modular pipeline does, instead of failing the job."""
    pages = webpages_df(spark, 200)
    pages = pages.withColumn(
        "html", F.when(F.xxhash64("url") % 5 != 0, F.col("html"))
    )
    assert pages.where(F.col("html").isNull()).count() > 0
    polys = synth.make_admin_polygons()
    pd.testing.assert_frame_equal(
        rollup(enrich_fused(pages, polys)), rollup(enrich(pages, polys))
    )
