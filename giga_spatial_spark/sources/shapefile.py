"""ESRI Shapefile codec — pure-stdlib struct parsing, executor-parallel.

The reference reads .shp (with .shx/.dbf/.prj sidecars) through
geopandas/pyogrio (core/io/readers.py:122-175, GEO_READERS['.shp']); no GDAL
exists in this container, so the fixed-layout binary is parsed directly,
the same from-scratch pattern as sources/geotiff.py:

  - driver: .shp header + the .shx index (8 bytes/record) + the .dbf field
    descriptors — a few MB even for million-record layers;
  - executors: each task byte-range-reads ONLY its record span of .shp and
    the matching fixed-width .dbf rows, so decode parallelism scales with
    record count, not file count.

Output matches read_geojson's normalized feature table: feature_id,
geom_type, rings (array<array<array<double>>>, open-ring convention),
properties (map<string,string> from the .dbf).

Shape types: Null, Point, PolyLine, Polygon, MultiPoint and their Z/M
variants (trailing z/m blocks are skipped — record framing comes from the
.shx, so alignment never depends on them).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .readers import FEATURE_SCHEMA

_NULL, _POINT, _POLYLINE, _POLYGON, _MULTIPOINT = 0, 1, 3, 5, 8


@dataclass
class ShpMeta:
    shp_path: str
    dbf_path: str | None
    n_records: int
    shape_type: int
    bbox: tuple[float, float, float, float]
    # per-record byte offset of the record HEADER in .shp and content length
    offsets: np.ndarray
    lengths: np.ndarray
    # dbf layout
    dbf_header_size: int = 0
    dbf_record_size: int = 0
    dbf_fields: list[tuple[str, str, int]] = field(default_factory=list)
    encoding: str = "latin-1"
    crs_wkt: str | None = None


def _sidecar(path: str, ext: str) -> str | None:
    base = os.path.splitext(path)[0]
    for cand in (base + ext, base + ext.upper()):
        if os.path.exists(cand):
            return cand
    return None


def read_shp_meta(path: str) -> ShpMeta:
    """Parse the .shp header, the full .shx index, and the .dbf/.prj/.cpg
    sidecar headers (driver-side; all are small)."""
    with open(path, "rb") as f:
        hdr = f.read(100)
    if struct.unpack(">i", hdr[:4])[0] != 9994:
        raise ValueError(f"not a shapefile: {path}")
    shape_type = struct.unpack("<i", hdr[32:36])[0]
    bbox = struct.unpack("<4d", hdr[36:68])

    shx = _sidecar(path, ".shx")
    if shx is not None:
        with open(shx, "rb") as f:
            f.seek(24)
            (len_words,) = struct.unpack(">i", f.read(4))
            f.seek(100)
            idx = np.frombuffer(f.read(len_words * 2 - 100), dtype=">i4")
        offsets = idx[0::2].astype(np.int64) * 2
        lengths = idx[1::2].astype(np.int64) * 2
    else:
        # no .shx: single sequential scan of record headers (driver-side,
        # header-only seeks — still cheap relative to content decode)
        offs, lens = [], []
        size = os.path.getsize(path)
        pos = 100
        with open(path, "rb") as f:
            while pos + 8 <= size:
                f.seek(pos)
                _, clen = struct.unpack(">ii", f.read(8))
                offs.append(pos)
                lens.append(clen * 2)
                pos += 8 + clen * 2
        offsets = np.asarray(offs, dtype=np.int64)
        lengths = np.asarray(lens, dtype=np.int64)

    meta = ShpMeta(
        shp_path=os.path.abspath(path),
        dbf_path=None,
        n_records=len(offsets),
        shape_type=shape_type,
        bbox=bbox,
        offsets=offsets,
        lengths=lengths,
    )

    dbf = _sidecar(path, ".dbf")
    if dbf is not None:
        with open(dbf, "rb") as f:
            head = f.read(32)
            n_rec = struct.unpack("<I", head[4:8])[0]
            hsize, rsize = struct.unpack("<HH", head[8:12])
            fields = []
            while f.tell() + 32 <= hsize:
                fd = f.read(32)
                if fd[:1] == b"\x0d":
                    break
                name = fd[:11].split(b"\x00")[0].decode("ascii", "replace")
                ftype = fd[11:12].decode("ascii", "replace")
                fields.append((name, ftype, fd[16]))
        if n_rec and n_rec != meta.n_records:
            raise ValueError(
                f".dbf has {n_rec} records but .shp has {meta.n_records}"
            )
        meta.dbf_path = os.path.abspath(dbf)
        meta.dbf_header_size = hsize
        meta.dbf_record_size = rsize
        meta.dbf_fields = fields

    cpg = _sidecar(path, ".cpg")
    if cpg is not None:
        try:
            enc = open(cpg, encoding="ascii").read().strip()
            "x".encode(enc)  # validate
            meta.encoding = enc
        except (LookupError, UnicodeDecodeError):
            pass
    prj = _sidecar(path, ".prj")
    if prj is not None:
        meta.crs_wkt = open(prj, encoding="ascii", errors="replace").read().strip()
    return meta


def _ring_is_cw(ring: np.ndarray) -> bool:
    """Shapefile outer rings wind clockwise (signed shoelace area < 0 in the
    y-up plane)."""
    x, y = ring[:, 0], ring[:, 1]
    return (
        np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) < 0
    )


def decode_record(content: bytes) -> tuple[str | None, list | None]:
    """One .shp record's content bytes → (geom_type, rings) in the engine's
    flattened open-ring convention."""
    (stype,) = struct.unpack_from("<i", content, 0)
    base = stype % 10 if stype in (11, 13, 15, 18, 21, 23, 25, 28) else stype
    if base == _NULL:
        return None, None
    if base == _POINT:
        x, y = struct.unpack_from("<2d", content, 4)
        return "Point", [[[x, y]]]
    if base == _MULTIPOINT:
        (n,) = struct.unpack_from("<i", content, 36)
        pts = np.frombuffer(content, dtype="<f8", count=2 * n, offset=40)
        return "MultiPoint", [pts.reshape(n, 2).tolist()]
    if base in (_POLYLINE, _POLYGON):
        n_parts, n_points = struct.unpack_from("<2i", content, 36)
        parts = np.frombuffer(content, dtype="<i4", count=n_parts, offset=44)
        pts = np.frombuffer(
            content, dtype="<f8", count=2 * n_points, offset=44 + 4 * n_parts
        ).reshape(n_points, 2)
        bounds = np.append(parts, n_points)
        rings = [pts[bounds[i]: bounds[i + 1]] for i in range(n_parts)]
        if base == _POLYLINE:
            gt = "LineString" if n_parts == 1 else "MultiLineString"
            return gt, [r.tolist() for r in rings]
        opened = []
        n_outer = 0
        for r in rings:
            if len(r) >= 2 and (r[0] == r[-1]).all():
                r = r[:-1]
            n_outer += bool(_ring_is_cw(r))
            opened.append(r.tolist())
        return ("MultiPolygon" if n_outer > 1 else "Polygon"), opened
    raise ValueError(f"unsupported shape type {stype}")


def _dbf_value(raw: bytes, ftype: str, encoding: str) -> str | None:
    s = raw.decode(encoding, "replace").strip()
    if not s or s.lstrip("*") == "":
        return None
    if ftype == "L":
        if s in "YyTt":
            return "true"
        if s in "NnFf":
            return "false"
        return None
    return s


def read_shapefile(spark: SparkSession, path: str) -> DataFrame:
    """.shp (+sidecars) → normalized feature table, records decoded
    executor-side by index range (geometry from .shp byte ranges, attributes
    from the matching fixed-width .dbf rows)."""
    import pandas as pd

    meta = read_shp_meta(path)
    bc = spark.sparkContext.broadcast(meta)

    def kernel(batches):
        m = bc.value
        fshp = open(m.shp_path, "rb")
        fdbf = open(m.dbf_path, "rb") if m.dbf_path else None
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "rings": [], "properties": []}
            for i in ids.tolist():
                fshp.seek(m.offsets[i] + 8)  # skip the 8-byte record header
                gt, rings = decode_record(fshp.read(int(m.lengths[i])))
                props = None
                if fdbf is not None:
                    fdbf.seek(m.dbf_header_size + i * m.dbf_record_size)
                    rec = fdbf.read(m.dbf_record_size)
                    props, pos = {}, 1  # leading deletion-flag byte
                    for name, ftype, flen in m.dbf_fields:
                        props[name] = _dbf_value(
                            rec[pos: pos + flen], ftype, m.encoding
                        )
                        pos += flen
                rows["feature_id"].append(i)
                rows["geom_type"].append(gt)
                rows["rings"].append(rings)
                rows["properties"].append(props)
            yield pd.DataFrame(rows)

    n = meta.n_records
    parts = max(1, min(n, spark.sparkContext.defaultParallelism * 2))
    return spark.range(0, n, 1, parts).mapInPandas(kernel, schema=FEATURE_SCHEMA)


# ------------------------------------------------------------------ writer
def _pack_shp_ring(ring: np.ndarray, outer: bool) -> np.ndarray:
    """Close the ring and orient it per the spec (outer CW, holes CCW)."""
    ring = np.asarray(ring, dtype=np.float64)
    if _ring_is_cw(ring) != outer:
        ring = ring[::-1]
    return np.vstack([ring, ring[:1]])


def write_shapefile(
    features: list[tuple[str, object, dict]],
    path: str,
    crs_wkt: str | None = None,
    encoding: str = "latin-1",
) -> str:
    """Minimal .shp/.shx/.dbf/.prj writer for dim-sized layers and fixtures
    (the reference's write path is geopandas `to_file`; its GEO_WRITERS map
    targets GeoJSON/GPKG/Parquet, so .shp writing here is reader-parity
    support, driver-side by design).

    ``features``: (geom_type, coords, properties) where coords follows the
    engine convention — Point: (x, y); Polygon: [outer, *holes] open rings.
    All property dicts must share keys; values are written as C (text)
    fields."""
    kinds = {("Point" if gt == "Point" else "Polygon") for gt, _, _ in features}
    if len(kinds) > 1:
        raise ValueError(
            "a shapefile holds ONE shape type; split Point and Polygon "
            f"features into separate files (got {sorted(kinds)})"
        )
    shp_type = _POINT if features and features[0][0] == "Point" else _POLYGON
    records = []
    for gt, coords, _ in features:
        if gt == "Point":
            x, y = float(coords[0]), float(coords[1])
            records.append(struct.pack("<idd", _POINT, x, y))
        elif gt in ("Polygon", "MultiPolygon"):
            if gt == "Polygon":
                rings = [np.asarray(r) for r in (
                    [coords] if isinstance(coords, np.ndarray) and coords.ndim == 2
                    else coords
                )]
                closed = [_pack_shp_ring(r, outer=(j == 0)) for j, r in enumerate(rings)]
            else:  # MultiPolygon: list of [outer, *holes] ring lists
                closed = []
                for poly in coords:
                    rings = [np.asarray(r) for r in (
                        [poly] if isinstance(poly, np.ndarray) and poly.ndim == 2
                        else poly
                    )]
                    closed += [
                        _pack_shp_ring(r, outer=(j == 0)) for j, r in enumerate(rings)
                    ]
            pts = np.vstack(closed)
            parts = np.cumsum([0] + [len(r) for r in closed[:-1]]).astype("<i4")
            body = struct.pack(
                "<i4d2i",
                _POLYGON,
                pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max(),
                len(closed), len(pts),
            ) + parts.tobytes() + pts.astype("<f8").tobytes()
            records.append(body)
        else:
            raise ValueError(f"write_shapefile supports Point/Polygon, not {gt}")

    all_pts = []
    for gt, coords, _ in features:
        if gt == "Point":
            all_pts.append([coords])
        else:
            polys = coords if gt == "MultiPolygon" else [coords]
            for poly in polys:
                rings = [poly] if isinstance(poly, np.ndarray) and getattr(poly, "ndim", 0) == 2 else poly
                all_pts += [np.asarray(r) for r in rings]
    stacked = np.vstack([np.atleast_2d(np.asarray(p, dtype=float)) for p in all_pts])
    bbox = (stacked[:, 0].min(), stacked[:, 1].min(), stacked[:, 0].max(), stacked[:, 1].max())

    def header(total_bytes: int) -> bytes:
        return (
            struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
            + struct.pack(">i", total_bytes // 2)
            + struct.pack("<ii", 1000, shp_type)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0, 0, 0, 0)
        )

    shp_body, shx_body = b"", b""
    pos = 100
    for i, rec in enumerate(records):
        shx_body += struct.pack(">ii", pos // 2, len(rec) // 2)
        shp_body += struct.pack(">ii", i + 1, len(rec) // 2) + rec
        pos += 8 + len(rec)
    with open(path, "wb") as f:
        f.write(header(100 + len(shp_body)) + shp_body)
    base = os.path.splitext(path)[0]
    with open(base + ".shx", "wb") as f:
        f.write(header(100 + len(shx_body)) + shx_body)

    # .dbf — all fields as C (text), fixed width from the longest value
    keys = list(features[0][2].keys()) if features and features[0][2] else []
    widths = {
        k: max(1, *(len(str(f[2].get(k) if f[2].get(k) is not None else "")) for f in features))
        for k in keys
    }
    rsize = 1 + sum(widths.values())
    hsize = 32 + 32 * len(keys) + 1
    with open(base + ".dbf", "wb") as f:
        f.write(struct.pack("<B3BIHH20x", 3, 26, 8, 16, len(features), hsize, rsize))
        for k in keys:
            f.write(
                k.encode("ascii", "replace")[:10].ljust(11, b"\x00")
                + b"C" + b"\x00" * 4 + bytes([widths[k]]) + b"\x00" * 15
            )
        f.write(b"\x0d")
        for _, _, props in features:
            f.write(b" ")
            for k in keys:
                v = props.get(k)
                s = "" if v is None else str(v)
                f.write(s.encode(encoding, "replace")[: widths[k]].ljust(widths[k], b" "))
        f.write(b"\x1a")
    if crs_wkt:
        with open(base + ".prj", "w", encoding="ascii") as f:
            f.write(crs_wkt)
    return path
