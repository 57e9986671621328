"""GeoPackage codec — stdlib sqlite3 + the engine's own WKB codec.

The reference reads/writes .gpkg through geopandas/GDAL (core/io/
readers.py GEO_READERS['.gpkg'], writers.py GEO_WRITERS['.gpkg']); a
GeoPackage is just SQLite with a small metadata schema and a `GP`-headered
WKB blob per geometry (OGC 12-128r19), so both directions are implemented
directly on sqlite3 + functions/wkb.py.

Read scale path: the driver reads only the metadata tables and the rowid
bounds; executors each open the file read-only and SELECT their own rowid
range — decode parallelism scales with row count (the same partitioned-
range pattern as a JDBC source). Writing is driver-side by design (SQLite
is a single-writer file) and guarded by a row cap, like write_xlsx.

Feature-table output matches read_geojson: feature_id, geom_type, rings,
properties (map<string,string>).
"""

from __future__ import annotations

import os
import sqlite3
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions import wkb as _wkb
from ..session import local_df
from ..winding import wind_member
from .readers import FEATURE_SCHEMA

GPKG_WRITE_LIMIT = 5_000_000  # dim-layer guard, same role as xlsx's cap
_GP_APP_ID = 0x47504B47  # "GPKG"


def _connect_ro(path: str) -> sqlite3.Connection:
    return sqlite3.connect(f"file:{os.path.abspath(path)}?mode=ro", uri=True)


def list_feature_tables(path: str) -> list[str]:
    with _connect_ro(path) as con:
        rows = con.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type='features' "
            "ORDER BY table_name"
        ).fetchall()
    return [r[0] for r in rows]


def parse_gpkg_blob(buf: bytes) -> tuple[str, object] | None:
    """GeoPackageBinary blob → (geom_type, coords) via the WKB parser.
    Header: magic 'GP', version, flags (bit0 header byte order, bits1-3
    envelope size, bit4 empty flag), int32 srs_id, optional envelope."""
    if buf is None or len(buf) < 8 or buf[:2] != b"GP":
        return None
    flags = buf[3]
    if flags & 0x10:  # empty-geometry flag
        return None
    env_ind = (flags >> 1) & 0x07
    env_doubles = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}.get(env_ind)
    if env_doubles is None:
        return None
    return _wkb.parse_wkb(buf[8 + 8 * env_doubles:])


def _coords_to_rings(gtype: str, coords) -> list | None:
    """Same flattening as functions/wkb.with_parsed_rings."""
    if gtype == "Point":
        return [[list(coords)]]
    if gtype == "LineString":
        return [[list(v) for v in coords]]
    if gtype == "Polygon":
        return wind_member([[list(v) for v in ring] for ring in coords])
    if gtype == "MultiPolygon":
        return [
            ring
            for poly in coords
            for ring in wind_member([[list(v) for v in r] for r in poly])
        ]
    if gtype in ("MultiPoint", "MultiLineString"):
        return [[list(v) for v in np.atleast_2d(part)] for part in coords]
    return None


def read_gpkg(
    spark: SparkSession, path: str, table: str | None = None
) -> DataFrame:
    """.gpkg feature table → normalized feature table, rows decoded
    executor-side by rowid range."""
    import pandas as pd

    abspath = os.path.abspath(path)
    with _connect_ro(abspath) as con:
        if table is None:
            tables = list_feature_tables(abspath)
            if not tables:
                raise ValueError(f"no feature tables in {path}")
            table = tables[0]
        geom_row = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns WHERE table_name=?",
            (table,),
        ).fetchone()
        if geom_row is None:
            raise ValueError(
                f"table {table!r} has no gpkg_geometry_columns entry in {path}"
            )
        (geom_col,) = geom_row
        cols = [
            r[1]
            for r in con.execute(f'PRAGMA table_info("{table}")').fetchall()
        ]
        lo_hi = con.execute(f'SELECT min(rowid), max(rowid) FROM "{table}"').fetchone()
    if lo_hi[0] is None:
        lo, hi = 0, -1
    else:
        lo, hi = int(lo_hi[0]), int(lo_hi[1])
    attr_cols = [c for c in cols if c != geom_col]

    n_parts = max(1, min(spark.sparkContext.defaultParallelism * 2, hi - lo + 1))
    bounds = np.linspace(lo, hi + 1, n_parts + 1).astype(np.int64)
    ranges = [
        (int(bounds[i]), int(bounds[i + 1]) - 1)
        for i in range(n_parts)
        if bounds[i] < bounds[i + 1]
    ]
    sel = ", ".join(
        ["rowid", f'"{geom_col}"'] + [f'"{c}"' for c in attr_cols]
    )

    def kernel(batches):
        import contextlib

        # close per-invocation — executors are long-lived; leaking one fd
        # per task eventually exhausts the process limit
        with contextlib.closing(_connect_ro(abspath)) as con:
            for pdf in batches:
                for _, row in pdf.iterrows():
                    r0, r1 = int(row["r0"]), int(row["r1"])
                    rows = {
                        "feature_id": [], "geom_type": [], "rings": [], "properties": [],
                    }
                    for rec in con.execute(
                        f'SELECT {sel} FROM "{table}" '
                        f"WHERE rowid BETWEEN {r0} AND {r1} ORDER BY rowid"
                    ):
                        parsed = parse_gpkg_blob(rec[1])
                        gt = rings = None
                        if parsed is not None:
                            gt, coords = parsed
                            rings = _coords_to_rings(gt, coords)
                        rows["feature_id"].append(int(rec[0]))
                        rows["geom_type"].append(gt)
                        rows["rings"].append(rings)
                        rows["properties"].append(
                            {
                                c: (None if v is None else str(v))
                                for c, v in zip(attr_cols, rec[2:])
                            }
                        )
                    yield pd.DataFrame(rows)

    rng = local_df(spark, ranges or [(0, -1)], "r0 long, r1 long").repartition(
        max(1, len(ranges))
    )
    return rng.mapInPandas(kernel, schema=FEATURE_SCHEMA)


# ------------------------------------------------------------------ writer
def gpkg_blob(wkb_bytes: bytes, srs_id: int = 4326) -> bytes:
    """Wrap WKB in a GeoPackageBinary header (no envelope, LE)."""
    return b"GP" + bytes([0, 0x01]) + struct.pack("<i", srs_id) + wkb_bytes


_SRS_ROWS = [
    ("Undefined Cartesian", -1, "NONE", -1, "undefined", None),
    ("Undefined Geographic", 0, "NONE", 0, "undefined", None),
    (
        "WGS 84",
        4326,
        "EPSG",
        4326,
        'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
        '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]',
        None,
    ),
]


def write_gpkg(
    df: DataFrame,
    path: str,
    table: str = "features",
    geom_type: str = "GEOMETRY",
    srs_id: int = 4326,
    max_rows: int = GPKG_WRITE_LIMIT,
) -> str:
    """Normalized feature table (geom_type, rings, properties[, feature_id])
    → .gpkg (reference writers.py GEO_WRITERS['.gpkg']). Driver-side with a
    row cap — SQLite is a single-writer file; fact tables belong in
    (geo)parquet."""
    from .geo_writers import rings_to_wkb

    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"gpkg writer caps at {max_rows} rows — use geoparquet")
    prop_keys: list[str] = []
    for r in rows:
        for k in (r["properties"] or {}):
            if k not in prop_keys:
                prop_keys.append(k)

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute(f"PRAGMA application_id = {_GP_APP_ID}")
        con.execute("PRAGMA user_version = 10300")
        con.execute(
            "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, "
            "srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, "
            "organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, "
            "description TEXT)"
        )
        con.executemany(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)", _SRS_ROWS
        )
        con.execute(
            "CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, "
            "data_type TEXT NOT NULL, identifier TEXT UNIQUE, description TEXT "
            "DEFAULT '', last_change DATETIME, min_x DOUBLE, min_y DOUBLE, "
            "max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
        )
        con.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, "
            "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, "
            "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL, "
            "CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))"
        )
        attr_ddl = "".join(f', "{k}" TEXT' for k in prop_keys)
        con.execute(
            f'CREATE TABLE "{table}" (fid INTEGER PRIMARY KEY AUTOINCREMENT, '
            f"geom BLOB{attr_ddl})"
        )
        xs, ys = [], []
        ins = (
            f'INSERT INTO "{table}" (fid, geom'
            + "".join(f', "{k}"' for k in prop_keys)
            + ") VALUES (" + ",".join("?" * (2 + len(prop_keys))) + ")"
        )
        # fid is a PRIMARY KEY: only carry the input feature_id through when
        # the ids are actually unique (multi-file reads can restart ids)
        use_fid = False
        if "feature_id" in df.columns:
            fids = [r["feature_id"] for r in rows]
            use_fid = None not in fids and len(set(fids)) == len(fids)
        for i, r in enumerate(rows):
            w = rings_to_wkb(r["geom_type"], r["rings"])
            blob = gpkg_blob(w, srs_id) if w is not None else None
            if r["rings"]:
                for ring in r["rings"]:
                    for x, y in ring:
                        xs.append(x)
                        ys.append(y)
            props = r["properties"] or {}
            con.execute(
                ins,
                [int(r["feature_id"]) if use_fid else i + 1, blob]
                + [props.get(k) for k in prop_keys],
            )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "last_change, min_x, min_y, max_x, max_y, srs_id) VALUES "
            "(?,?,?,datetime('now'),?,?,?,?,?)",
            (
                table, "features", table,
                min(xs) if xs else None, min(ys) if ys else None,
                max(xs) if xs else None, max(ys) if ys else None, srs_id,
            ),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (table, "geom", geom_type, srs_id),
        )
        con.commit()
    finally:
        con.close()
    return path
