"""The GeoTIFF/COG queries and their DuckDB oracles read one coefficient
table, so a typo there moves both sides together and oracle parity alone
would not see it. These tests pin both sides to fixed fingerprints: the
oracle SQL texts (all of them, since the Spark side of several formula
families is built from the same SQL text), and the fixture files as
written into an empty cache (a warm cache would hide a broken writer).
They also check that every spec field keys the fixture cache, so a stale
file can never change an output."""

import dataclasses
import hashlib
import os

import pytest

import __spark_entry__ as E

# every oracle_sql() text → sha256 prefix; no formula refactor may move one
ORACLE_SHA = {
    "q1_pricing_summary": "a1608e6ab784",
    "q3_shipping": "547530752e2c",
    "q_admin_annotate": "d19a363d92e0",
    "q_age_structure": "c3bfd3dc06b0",
    "q_ann_ivf": "a3ea2a38d027",
    "q_ann_lsh": "4d178db4f4ca",
    "q_ann_top1": "f54053309075",
    "q_ann_top1_gemm": "f54053309075",
    "q_bounds_filter": "d9ec0798c876",
    "q_canonical_url": "e520ed28c4ff",
    "q_cog_overview": "2a9643d9a0f1",
    "q_cog_overview_int": "12c38ad61996",
    "q_components": "cf062e7ff953",
    "q_coord_repair": "23e186e0d76d",
    "q_corpus_split": "8d29273c5849",
    "q_coverage": "766e26a6e2f0",
    "q_custom_agg": "e37e23046e75",
    "q_decontaminate": "8775fef9957e",
    "q_dedup_clusters": "83d6d68041de",
    "q_dedup_exact": "6c15685cee19",
    "q_distance_graph": "90510e8847d6",
    "q_domain_sample": "f4c1353f4541",
    "q_embed_near_dup": "d498cf563ced",
    "q_entity_id": "775594888060",
    "q_events_hourly": "c6cad5f2d9fd",
    "q_extract_invariant": "32092456ff3c",
    "q_fingerprint": "e26c639b0842",
    "q_fractional_nonconvex": "f9d9b70f1e6d",
    "q_fractional_overlay": "015ff05d3889",
    "q_geom_stats": "b10e4d8e8e87",
    "q_geotiff_albers": "4ab19974c05d",
    "q_geotiff_custom_crs": "92816ec20c6b",
    "q_geotiff_laea": "cd77e7b418ad",
    "q_geotiff_lcc": "230bcdfb07d8",
    "q_geotiff_mollweide": "2878520a4244",
    "q_geotiff_polar": "1ad7f81d00ac",
    "q_geotiff_zonal": "7d1de08548d4",
    "q_grid_filter": "db90abfc9dd2",
    "q_h3_compact": "2a2eaaea239c",
    "q_h3_events": "16e2eb5406bb",
    "q_h3_parent": "a37a4afeb9e4",
    "q_hex_assign": "aa595b359767",
    "q_hex_ring": "e6d93c6418f9",
    "q_hex_zonal": "b2c4ffb40f86",
    "q_image_decode": "63b3048889aa",
    "q_iso3": "b02fff11e2d9",
    "q_jitter": "1fb504f45273",
    "q_k_factor": "ddba12dc265e",
    "q_knn_grid": "8ec9985a6b78",
    "q_knn_nearest": "8ec9985a6b78",
    "q_lang_id": "27ac5c614dd7",
    "q_los": "fe701f4dcc69",
    "q_minhash_near_dup": "3cc3cd1bf077",
    "q_multimodal_meta": "b381f1aad310",
    "q_nfkc": "81ef123a3c8b",
    "q_ngram_jaccard": "5fcd70c34a36",
    "q_normalize_enums": "9816fbf007d6",
    "q_normalize_strings": "f4b0ab7c4feb",
    "q_pack_sequences": "55d99735fde5",
    "q_passage_dedup": "88f2f52de1da",
    "q_pii_redact": "4f5747a2e495",
    "q_pip_fgb": "c1d49cd0f9f1",
    "q_pip_gpkg": "c1d49cd0f9f1",
    "q_pip_kml": "c1d49cd0f9f1",
    "q_pip_nonconvex": "689c3c4ca9cb",
    "q_pip_shp": "c1d49cd0f9f1",
    "q_pip_tag": "c1d49cd0f9f1",
    "q_pip_tag_rtree": "c1d49cd0f9f1",
    "q_pip_wkb": "c1d49cd0f9f1",
    "q_pip_wkt": "c1d49cd0f9f1",
    "q_pixel_graph": "e1e999131c46",
    "q_polyfill_overlap": "3caf1eb18ce4",
    "q_polygon_agg": "ed89803d22c7",
    "q_polygon_agg_nonconvex": "8048ed6b6f91",
    "q_proximity_dedup": "b24a92f17b50",
    "q_quadkey_compact": "0dfbdafc048f",
    "q_quality_repetition": "b868c337b92f",
    "q_quarantine": "35354b5c887c",
    "q_range_count": "50237bb1b316",
    "q_raster_bilinear": "059b476fc809",
    "q_raster_merge": "cd17946e4ec1",
    "q_raster_multiband": "bcfdb5512625",
    "q_raster_sample": "06b24328c918",
    "q_s2_assign": "8c1eba462686",
    "q_s2_parent": "f03012ef9aab",
    "q_s2_zonal": "672f34cbbcdf",
    "q_sessionize": "4166ed24263a",
    "q_simhash_near_dup": "a814ee8032bb",
    "q_simplify": "e545317234ec",
    "q_tfidf_top_terms": "47c6cdf24bd5",
    "q_tile_assign": "3cb68421a7a0",
    "q_tile_density": "697fe21036e1",
    "q_tile_zonal": "cd619268e5bc",
    "q_titlecase": "939e3d6f8644",
    "q_token_stats": "21ff653ae636",
    "q_topk_orders": "ff838664884b",
    "q_unigram_surprisal": "6945e769cfac",
    "q_url_blocklist": "c5d38421420f",
    "q_utm_area": "f3177629b549",
    "q_utm_buffer": "627fc192c920",
    "q_utm_epsg": "492ccaf19905",
    "q_utm_pixels": "dab4177b7ef5",
    "q_utm_project": "b9150aa434fd",
    "q_zonal_count": "ccc8b18a3e42",
    "q_zonal_raster": "7d1de08548d4",
    "q_zonal_stats": "cab556c1f013",
}

# fixture file name → sha256 prefix, and the query that writes it
FIXTURE_SHA = {
    "synth.tif": ("q_geotiff_zonal", "b8ebae5de673222a"),
    "moll.tif": ("q_geotiff_mollweide", "4b50b0b4024df8e0"),
    "laea.tif": ("q_geotiff_laea", "a0bca7a9b9825659"),
    "albers.tif": ("q_geotiff_albers", "a92ea4cbb669ce2c"),
    "lcc.tif": ("q_geotiff_lcc", "e4fea4e0437ee527"),
    "polar.tif": ("q_geotiff_polar", "1dde74555dce2ef4"),
    "customcrs.tif": ("q_geotiff_custom_crs", "a9bf82baf6dafd31"),
    "cog.tif": ("q_cog_overview", "9200f2d1712b645c"),
    "cogint.tif": ("q_cog_overview_int", "0b9ec8f7ce153566"),
}


class _Written(Exception):
    """Stops a query constructor once its fixture path is known, before
    it needs a SparkSession."""


@pytest.fixture
def fixture_paths(monkeypatch, tmp_path):
    """Empty fixture cache; returns the list every fixture path lands in."""
    monkeypatch.setattr(E, "_fixture_root", lambda: str(tmp_path))
    real = E._cached_fixture
    paths = []

    def spy(name, params, write):
        paths.append(real(name, params, write))
        raise _Written

    monkeypatch.setattr(E, "_cached_fixture", spy)
    return paths


def test_oracle_texts_are_pinned():
    got = {
        q: hashlib.sha256(sql.encode()).hexdigest()[:12]
        for q, sql in E.oracle_sql().items()
    }
    assert got == ORACLE_SHA


def test_fixtures_written_fresh_are_pinned(fixture_paths, tmp_path):
    queries = E.queries()
    for name, (query, _) in FIXTURE_SHA.items():
        with pytest.raises(_Written):
            queries[query](None, "")
        path = fixture_paths[-1]
        assert os.path.basename(path) == name and path.startswith(str(tmp_path))
    got = {}
    for path in fixture_paths:
        with open(path, "rb") as f:
            got[os.path.basename(path)] = hashlib.sha256(f.read()).hexdigest()[:16]
    assert got == {name: sha for name, (_, sha) in FIXTURE_SHA.items()}


def _variants(spec):
    """Each spec with exactly one field (or one coefficient) changed."""
    other_crs = next(
        s.crs for s in E.PROJECTED_RASTERS.values()
        if isinstance(s.crs, str) and s.crs != spec.crs
    )
    for f in dataclasses.fields(spec):
        v = getattr(spec, f.name)
        if isinstance(v, E._Coeffs):
            for k in v._fields:
                yield f"{f.name}.{k}", {f.name: v._replace(**{k: getattr(v, k) + 1})}
            continue
        if f.name == "crs":
            v = {**v, "lon0": v["lon0"] + 1.0} if isinstance(v, dict) else other_crs
        elif f.name == "anchor":
            v = (v + 1) % len(E.ADMIN_POLYS) if isinstance(v, int) else v[:-1]
        elif isinstance(v, str):
            v += "x"
        else:
            v = v * 2
        yield f.name, {f.name: v}


@pytest.mark.parametrize("query", sorted(E.PROJECTED_RASTERS))
def test_every_spec_field_keys_the_cache(monkeypatch, fixture_paths, query):
    def path_of(spec):
        monkeypatch.setitem(E.PROJECTED_RASTERS, query, spec)
        with pytest.raises(_Written):
            E._projected_zonal(None, query)
        return fixture_paths[-1]

    spec = E.PROJECTED_RASTERS[query]
    base = path_of(spec)
    for field, change in _variants(spec):
        assert path_of(dataclasses.replace(spec, **change)) != base, field
