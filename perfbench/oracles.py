"""Independent oracles for the correctness gate.

Board queries are hashed against their DuckDB ``oracle_sql()`` twins with
the same canonical hash the repository's oracle checker uses.  The enrich
oracle replays the pipeline in DuckDB over the stored ``text`` column: the
coordinate regex, the convex-zone predicate and the tile formula, each
taken from the engine's SQL twin.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

import __spark_entry__ as E
from giga_spatial_spark import synth
from giga_spatial_spark.cells import tile_id_sql
from giga_spatial_spark.functions.text import _RE_COORD
from giga_spatial_spark.pipeline import TILE_ZOOM

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(E.__file__)), "tools"))
from check_oracles import TABLES, canon as _canon  # noqa: E402


def canon(pdf) -> str:
    """Canonical hash of a result: column names plus value hash."""
    cols, digest = _canon(pdf)
    return f"{','.join(cols)}:{len(pdf)}:{digest}"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    return con


def board_hashes(sf_dir: str, names: list[str], cache_dir: str) -> dict[str, str]:
    """DuckDB oracle hash per query.  The tables are fixed files and the
    oracle texts are frozen, so results are cached on disk keyed by both."""
    sql = E.oracle_sql()
    tables = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLES]
    tables = [p for p in tables if os.path.exists(p)]
    key = hashlib.sha256()
    for p in tables:
        with open(p, "rb") as f:
            key.update(f.read())
    for q in names:
        key.update(f"{q}\n{sql[q]}\n".encode())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _connect()
    for p in tables:
        name = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    hashes = {q: canon(con.execute(sql[q]).df()) for q in names}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(hashes, f)
    os.replace(path + ".tmp", path)
    return hashes


def _replay_ctes(pages_glob: str, polys: dict) -> str:
    """``z``: every zone-tagged coordinate mention of the stored text, one
    row per (mention, zone) pair, as the engine's pipeline tags them."""
    pat = _RE_COORD.pattern
    zones = " UNION ALL ".join(
        f"SELECT {int(zid)} AS zone_id, lat, lon FROM pts "
        f"WHERE {synth.convex_contains_sql(poly, 'lon', 'lat')}"
        for zid, poly in sorted(polys.items())
    )
    return f"""
        WITH m AS (
            SELECT unnest(regexp_extract_all(text, '{pat}', 0)) AS g
            FROM read_parquet('{pages_glob}')),
        raw AS (
            SELECT CAST(regexp_extract(g, '{pat}', 1) AS DOUBLE) AS lat,
                   CAST(regexp_extract(g, '{pat}', 2) AS DOUBLE) AS lon
            FROM m),
        pts AS MATERIALIZED (
            SELECT * FROM raw
            WHERE lat BETWEEN -90.0 AND 90.0 AND lon BETWEEN -180.0 AND 180.0),
        z AS MATERIALIZED ({zones})
    """


def enrich_replay_sql(pages_glob: str, polys: dict) -> str:
    return _replay_ctes(pages_glob, polys) + f"""
        SELECT zone_id, {tile_id_sql('lon', 'lat', TILE_ZOOM)} AS tile,
               count(*) AS mention_count
        FROM z GROUP BY 1, 2
    """


def enrich_replay_hash(pages_glob: str, polys: dict) -> str:
    return canon(_connect().execute(enrich_replay_sql(pages_glob, polys)).df())


def replay_point_counts(pages_glob: str, polys: dict, query_poly) -> tuple[int, int]:
    """(zone-tagged points, those inside ``query_poly``) from the replay:
    what a correct store holds in total and returns for the polygon."""
    pred = synth.convex_contains_sql(query_poly, "lon", "lat")
    total, inside = _connect().execute(
        _replay_ctes(pages_glob, polys)
        + f"SELECT count(*), count(*) FILTER (WHERE {pred}) FROM z"
    ).fetchone()
    return int(total), int(inside)


def rows_in_files(pattern: str, by: str | None = None):
    """Rows of the parquet files matching ``pattern``, read by DuckDB; per
    value of the hive partition column ``by`` when given."""
    src = f"read_parquet('{pattern}', hive_partitioning = true)"
    con = _connect()
    if by is None:
        return int(con.execute(f"SELECT count(*) FROM {src}").fetchone()[0])
    return {str(k): int(n) for k, n in
            con.execute(f"SELECT {by}, count(*) FROM {src} GROUP BY 1").fetchall()}
