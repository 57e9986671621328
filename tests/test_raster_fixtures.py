"""The GeoTIFF/COG queries and their DuckDB oracles read one coefficient
table, so a typo there moves both sides together and oracle parity alone
would not see it. These tests pin both sides to fixed fingerprints: the
oracle SQL texts, and the fixture files as written into an empty cache
(a warm cache would hide a broken writer). They also check that every
spec field keys the fixture cache, so a stale file can never change an
output."""

import dataclasses
import hashlib
import os

import pytest

import __spark_entry__ as E

ORACLE_SHA = {
    "q_zonal_raster": "7d1de08548d4",
    "q_geotiff_zonal": "7d1de08548d4",
    "q_geotiff_mollweide": "2878520a4244",
    "q_geotiff_laea": "cd77e7b418ad",
    "q_geotiff_albers": "4ab19974c05d",
    "q_geotiff_lcc": "230bcdfb07d8",
    "q_geotiff_polar": "1ad7f81d00ac",
    "q_geotiff_custom_crs": "92816ec20c6b",
    "q_cog_overview": "2a9643d9a0f1",
    "q_cog_overview_int": "12c38ad61996",
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
    oracles = E.oracle_sql()
    got = {
        q: hashlib.sha256(oracles[q].encode()).hexdigest()[:12] for q in ORACLE_SHA
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
