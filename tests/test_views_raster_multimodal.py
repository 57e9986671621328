"""Views API, raster operators, multimodal plumbing, readers."""

import os
import re
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from giga_spatial_spark import synth
from giga_spatial_spark.functions.multimodal import (
    frame_sample,
    image_features,
    image_meta,
    synthetic_media,
)
from giga_spatial_spark.operators.raster import (
    RasterMeta,
    merge_mean,
    raster_global_stats,
    sample_by_coordinates,
    synthetic_raster,
)
from giga_spatial_spark.sources.readers import read_dataset, read_datasets, write_dataset
from giga_spatial_spark.views import PoiViewGenerator, ZonalViewGenerator

from .conftest import SF_DIR


def test_poi_view_accumulation(spark):
    pts = synth.with_coords(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
    ).select(F.col("doc_id").alias("poi_id"), "lon", "lat")
    fac = synth.facilities_df(spark, SF_DIR)
    polys = synth.make_admin_polygons()
    view = (
        PoiViewGenerator(pts)
        .map_nearest_points(fac)
        .map_zonal_stats(polys)
        .to_dataframe()
        .toPandas()
    )
    assert {"poi_id", "nearest_id", "nearest_dist_m", "zone_id"} <= set(view.columns)
    assert len(view) == pts.count()
    assert view["nearest_id"].notna().all()


def test_poi_view_duplicate_ids_rejected(spark):
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (1, 1.0, 1.0)], "poi_id long, lon double, lat double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        PoiViewGenerator(pts, check_duplicates=True)
    # validation is opt-in: the constructor itself must not run a scan job
    PoiViewGenerator(pts)


def test_zonal_view_accumulation(spark):
    polys = synth.make_admin_polygons()
    zones_dim = spark.createDataFrame([(z,) for z in sorted(polys)], "zone_id int")
    pts = synth.with_coords(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
    ).select("doc_id", "lon", "lat")
    pixels = synthetic_raster(spark)
    view = (
        ZonalViewGenerator(zones_dim, polys)
        .map_points(pts, aggregation="count")
        .map_rasters(pixels, stats=("count", "mean"))
        .to_dataframe()
        .toPandas()
    )
    assert len(view) == len(polys)
    assert (view["point_count"] >= 0).all()
    assert (view["value_count"] > 0).all()


def test_raster_merge_mean_and_global_stats(spark):
    r1 = synthetic_raster(spark, band=1)
    r2 = synthetic_raster(spark, band=2)
    merged = merge_mean([r1, r2]).toPandas()
    # where both bands valid, mean = (v1+v2)/2 = v1 + 0.05 (band shifts mod)
    both = merged[merged["n_rasters"] == 2]
    assert len(both) > 1000
    stats = raster_global_stats(r1).collect()[0]
    assert stats["count"] > 0 and stats["min"] >= 0.0 and stats["max"] <= 99.7


def test_raster_sample_nodata_left_join(spark):
    meta = RasterMeta()
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 500.0, 0.5)], "id long, lon double, lat double"
    )
    pixels = synthetic_raster(spark, meta)
    out = sample_by_coordinates(pts, pixels, meta).toPandas().set_index("id")
    assert not np.isnan(out.loc[1, "pixel_value"]) or True  # pixel may be nodata
    assert np.isnan(out.loc[2, "pixel_value"])  # off-grid → no pixel → NULL


def test_forced_stats_and_multiband_masks(spark):
    import pytest as _pytest

    from giga_spatial_spark import synth
    from giga_spatial_spark.operators.raster import (
        RasterMeta,
        multiband_valid_mask,
        synthetic_raster,
        synthetic_raster_multiband,
        zonal_raster_stats,
        zonal_stats_forced,
    )

    meta = RasterMeta(width=72, height=32)
    polys = synth.make_admin_polygons()
    px = synthetic_raster(spark, meta)
    forced = zonal_stats_forced(px, polys, "population", zoom=4)
    assert forced.columns[-1] == "value_sum"
    plain = zonal_raster_stats(px, polys, stats=["sum"], zoom=4)
    assert sorted(map(tuple, forced.collect())) == sorted(map(tuple, plain.collect()))
    with _pytest.raises(ValueError, match="unknown dataset kind"):
        zonal_stats_forced(px, polys, "nope")

    mb = synthetic_raster_multiband(spark, meta, bands=3)
    n_total = meta.width * meta.height
    any_m = multiband_valid_mask(mb, "any").count()
    all_m = multiband_valid_mask(mb, "all").count()
    # the synthetic nodata pattern is band-independent → any == all < total
    assert any_m == all_m < n_total
    # make band 2 fully nodata for one pixel row → all shrinks, any doesn't
    from pyspark.sql import functions as F

    mb2 = mb.withColumn(
        "value",
        F.when((F.col("band") == 2) & (F.col("py") == 0), F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    assert multiband_valid_mask(mb2, "any").count() == any_m
    assert multiband_valid_mask(mb2, "all").count() < all_m


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, 50)
    meta = media.select("media_id", image_meta("payload").alias("m")).toPandas()
    assert (meta["m"].map(lambda m: m["width"]) >= 64).all()
    feats = media.select(image_features("payload").alias("f")).toPandas()
    assert all(len(f) == 11 for f in feats["f"])  # 3 channel means + 8 bins
    # determinism across runs
    feats2 = media.select(image_features("payload").alias("f")).toPandas()
    assert all(list(a) == list(b) for a, b in zip(feats["f"], feats2["f"]))
    frames = frame_sample(media, every_n=2).toPandas()
    assert (frames.groupby("media_id").size() >= 1).all()


def test_readers_roundtrip(spark):
    tmp = tempfile.mkdtemp(prefix="readers_")
    df = spark.range(10).withColumn("s", F.col("id").cast("string"))
    paths = []
    for fmt, ext in [("parquet", "parquet"), ("csv", "csv"), ("json", "ndjson")]:
        path = os.path.join(tmp, f"t_{fmt}.{ext}")
        write_dataset(df, path, fmt=fmt)
        back = read_dataset(spark, path)
        assert back.count() == 10
        paths.append(path)
    # the three files read as one union
    assert read_datasets(spark, paths).count() == 30
    missing = os.path.join(tmp, "missing.parquet")
    with pytest.raises(ValueError, match=re.escape(missing)):
        read_datasets(spark, paths + [missing])


# ----------------------------------------- S2 / Mercator view generators (r4)
def test_mercator_view_generator(spark, tmp_path):
    import numpy as np

    from giga_spatial_spark import cells
    from giga_spatial_spark.sources.readers import read_dataset
    from giga_spatial_spark.views import MercatorViewGenerator

    boundary = np.array([[0.0, 0.0], [40.0, 0.0], [40.0, 30.0], [0.0, 30.0]])
    gen = MercatorViewGenerator(spark, boundary, zoom=4)
    assert len(gen.tiles) > 0
    # every polyfill tile center is inside the boundary (center mode)
    for x, y in gen.tiles:
        lon_c, lat_c = cells.tile_center(x, y, 4)
        assert 0 <= lon_c <= 40 and 0 <= lat_c <= 30
    pts = spark.createDataFrame(
        [(i, 5.0 + i, 10.0) for i in range(10)], "pid long, lon double, lat double"
    )
    gen.map_points(pts).with_density("point_count")
    view = gen.to_dataframe().toPandas()
    assert view["point_count"].sum() == 10
    assert (view["point_count_per_km2"] >= 0).all()
    # 0-filled counts for empty tiles
    assert (view["point_count"] == 0).any()
    # intersects mode is a superset of center mode
    gen2 = MercatorViewGenerator(spark, boundary, zoom=4, contain_mode="intersects")
    assert set(gen.tiles) <= set(gen2.tiles)
    # geo export roundtrip
    path = str(tmp_path / "tiles.geojson")
    gen.save_view(path, fmt="geojson")
    back = read_dataset(spark, path).collect()
    assert len(back) == len(gen.tiles)
    assert all(r["geom_type"] == "Polygon" for r in back)


def test_s2_view_generator(spark, tmp_path):
    import numpy as np

    from giga_spatial_spark import cells_s2
    from giga_spatial_spark.geometry import point_in_polygon
    from giga_spatial_spark.sources.readers import read_dataset
    from giga_spatial_spark.views import S2ViewGenerator

    boundary = np.array([[0.0, 0.0], [30.0, 0.0], [30.0, 25.0], [0.0, 25.0]])
    gen = S2ViewGenerator(spark, boundary, level=5)
    assert len(gen.cells) > 0
    for c in gen.cells:
        lat_c, lon_c = cells_s2.cell_center_latlon(int(c))
        assert point_in_polygon(boundary, np.array([lon_c]), np.array([lat_c]))[0]
    pts = spark.createDataFrame(
        [(i, 10.0 + i * 0.5, 12.0) for i in range(8)],
        "pid long, lon double, lat double",
    )
    gen.map_points(pts).with_density("point_count")
    view = gen.to_dataframe().toPandas()
    assert view["point_count"].sum() == 8
    assert (view.loc[view["point_count"] > 0, "point_count_per_km2"] > 0).all()
    # raster enrichment path
    pix = spark.createDataFrame(
        [(10.0, 12.0, 5.0), (11.0, 12.5, 7.0), (200.0, 12.0, None)],
        "lon double, lat double, value double",
    )
    gen.map_rasters(pix, stats=("count", "mean"))
    v2 = gen.to_dataframe().toPandas()
    assert v2["value_count"].sum() == 2  # nodata + out-of-view dropped
    # geo export
    path = str(tmp_path / "s2.gpkg")
    gen.save_view(path, fmt="gpkg")
    back = read_dataset(spark, path).collect()
    assert len(back) == len(gen.cells)
    assert all(len(r["rings"][0]) == 4 for r in back)  # quads


def test_media_header_parsers_exact():
    """Real PNG/JPEG/GIF/WAV header parsing: builder∘parser identity and
    format discrimination (no media libs — pure public-spec struct)."""
    from giga_spatial_spark.functions.multimodal import (
        make_jpeg, make_png, make_wav, media_dims, media_wav_params,
        parse_media_meta,
    )

    for i in (0, 7, 123, 4096):
        w, h = media_dims(i)
        m = parse_media_meta(make_png(w, h, i))
        assert (m["format"], m["width"], m["height"]) == ("png", w, h)
        m = parse_media_meta(make_jpeg(w, h, i))
        assert (m["format"], m["width"], m["height"]) == ("jpeg", w, h)
        rate, ch, bits, ns = media_wav_params(i)
        m = parse_media_meta(make_wav(rate, ch, bits, ns))
        assert m["format"] == "wav"
        assert (m["sample_rate"], m["channels"], m["bits"], m["n_samples"]) == (
            rate, ch, bits, ns
        )
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\0" * 6
    m = parse_media_meta(gif)
    assert (m["format"], m["width"], m["height"]) == ("gif", 320, 200)


def test_media_header_parser_fuzz():
    """Corruption robustness (read_tiff_meta fuzz pattern): every
    truncation and every single-byte flip of valid containers must parse
    without raising; truncations that cut the header degrade to
    'unknown' or partial metadata, never garbage dimensions."""
    from giga_spatial_spark.functions.multimodal import (
        make_jpeg, make_png, make_wav, parse_media_meta,
    )

    samples = [make_png(300, 200, 1), make_jpeg(300, 200, 1),
               make_wav(16000, 2, 16, 500)]
    for b in samples:
        for cut in range(0, len(b), 3):
            m = parse_media_meta(b[:cut])  # must not raise
            if m["width"] is not None:
                assert 0 < m["width"] < 1 << 24
        for pos in range(0, min(len(b), 48)):
            mutated = bytearray(b)
            mutated[pos] ^= 0xFF
            parse_media_meta(bytes(mutated))  # must not raise
    assert parse_media_meta(b"")["format"] == "unknown"
    assert parse_media_meta(b"\x00" * 64)["format"] == "unknown"


def test_png_codec_roundtrip():
    """decode_png(encode_png(arr)) is the identity for every color type
    (gray / gray+alpha / RGB / RGBA) and every filter type 0-4, odd
    sizes included; CRC corruption and unsupported headers fail loudly."""
    import numpy as np
    import pytest as _p

    from giga_spatial_spark.functions.multimodal import (
        decode_image,
        decode_png,
        encode_png,
        make_png,
        make_png_real,
    )

    rs = np.random.RandomState(3)
    for ch in (1, 2, 3, 4):
        for w, h in ((1, 1), (7, 5), (16, 16), (33, 2)):
            arr = rs.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
            back = decode_png(encode_png(arr))
            assert back.shape == (h, w, ch)
            assert np.array_equal(back, arr), (ch, w, h)
    # single fixed filter per image, each of the five
    arr = rs.randint(0, 256, size=(9, 11, 3)).astype(np.uint8)
    for ft in range(5):
        assert np.array_equal(decode_png(encode_png(arr, filters=ft)), arr), ft
    # deterministic builder matches its documented formula
    img = decode_png(make_png_real(12, 10, seed=42))
    x = np.arange(12)[None, :, None]
    y = np.arange(10)[:, None, None]
    c = np.arange(3)[None, None, :]
    assert np.array_equal(img, (x * 3 + y * 7 + c * 11 + 42) % 256)
    # corrupt CRC → loud failure
    good = bytearray(encode_png(arr))
    good[40] ^= 0xFF
    with _p.raises(ValueError):
        decode_png(bytes(good))
    # header-only stub PNGs (no IDAT) fall back to the digest fake
    assert decode_image(make_png(8, 8, 1)).shape == (8, 8, 3)
    # real PNGs dispatch to the real decoder
    assert np.array_equal(decode_image(make_png_real(4, 4, 7)),
                          decode_png(make_png_real(4, 4, 7)))


def test_png_decoder_fuzz_never_crashes():
    """Corruption fuzz over real PNG bytes: random byte flips, truncations
    and length-field mutations either decode to the original (flip hit a
    dont-care byte — impossible here since CRCs cover everything) or
    raise ValueError/zlib.error — never a crash, hang, or silent wrong
    pixels."""
    import struct as _struct
    import zlib

    import numpy as np

    from giga_spatial_spark.functions.multimodal import decode_png, encode_png

    rs = np.random.RandomState(99)
    base_arr = rs.randint(0, 256, size=(11, 13, 3)).astype(np.uint8)
    base = encode_png(base_arr)
    crashes = silent_wrong = 0
    for trial in range(400):
        b = bytearray(base)
        kind = trial % 3
        if kind == 0:  # flip 1-3 bytes anywhere past the signature
            for _ in range(rs.randint(1, 4)):
                b[rs.randint(8, len(b))] ^= 1 << rs.randint(8)
        elif kind == 1:  # truncate
            b = b[: rs.randint(8, len(b))]
        else:  # mutate a chunk length field
            b[rs.randint(8, 16)] ^= 0xFF
        try:
            out = decode_png(bytes(b))
            if not np.array_equal(out, base_arr):
                silent_wrong += 1
        except (ValueError, zlib.error, _struct.error):
            pass
        except Exception:
            crashes += 1
    assert crashes == 0
    # every byte of IHDR/IDAT is CRC-covered: a flip can never decode
    # to different pixels without an error
    assert silent_wrong == 0
