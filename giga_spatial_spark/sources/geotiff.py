"""Minimal from-scratch GeoTIFF reader/writer — real raster ingest.

The reference's TifProcessor decodes GeoTIFFs with rasterio (tif_processor
.py:587-637 to_dataframe, windowed reads throughout); rasterio/GDAL are
absent in this container, so round 1 stubbed the decode. This module
implements the actual baseline-TIFF subset the engine needs with stdlib
struct + zlib, so the pixel-table ingest is REAL for:

  - classic TIFF, little- or big-endian
  - grayscale single-sample strips (RowsPerStrip) — the layout GDAL writes
    for float rasters by default
  - uncompressed (1) or DEFLATE (8 / 32946) compression
  - sample formats: unsigned int (8/16/32-bit), IEEE float32/float64
  - geotransform from ModelPixelScale (33550) + ModelTiepoint (33922)
  - nodata from the GDAL_NODATA ASCII tag (42113)

Spark integration follows the reference's windowed-read shape: each STRIP
is a work unit — `tiff_pixel_table` parses the IFD once on the driver
(tiny), then `spark.range(n_strips)` fans strips out to executors, each of
which seeks/reads/inflates only its own byte ranges. At 10^12 pixels this
is the same unit-parallel scan the lineage/partition-pruning stores use.

Pixel-table convention matches operators/raster.py: (band, px, py, lon,
lat, value) with py counted from the SOUTH edge (TIFF rows run north→south;
py = height-1-row), value NULL where the sample equals nodata.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions.crs import projection

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8}
_TYPE_FMT = {3: "H", 4: "I", 11: "f", 12: "d"}


@dataclass
class TiffMeta:
    path: str
    width: int
    height: int
    bits: int
    sample_format: int  # 1=uint, 3=ieee float
    compression: int
    rows_per_strip: int
    strip_offsets: list[int]
    strip_byte_counts: list[int]
    lon0: float
    lat1: float  # top edge latitude (row 0)
    dx: float
    dy: float  # positive pixel size
    nodata: float | None
    byte_order: str  # '<' or '>'
    samples_per_pixel: int = 1  # chunky-interleaved bands (PlanarConfig 1)
    # tiled layout (COG-style) — when tile_width is set, strip_offsets /
    # strip_byte_counts actually hold the TILE offsets/counts in row-major
    # tile order and rows_per_strip is unused
    tile_width: int = 0
    tile_length: int = 0
    # CRS from the GeoKeyDirectory (34735): "EPSG:4326" (default — the
    # geotransform is lon/lat degrees) or a projected code like
    # "ESRI:54009" (geotransform in projection meters). The pixel table
    # inverse-projects centers to lon/lat through functions.crs.projection,
    # so any code of its one table decodes
    crs: str = "EPSG:4326"
    # user-defined projections (ProjectedCSTypeGeoKey 32767): crs="USER"
    # and the ProjCoordTransGeoKey + parameter doubles land here, resolved
    # by the same functions.crs.projection
    proj: dict | None = None

    @property
    def tiles_across(self) -> int:
        return (self.width + self.tile_width - 1) // self.tile_width

    @property
    def tiles_down(self) -> int:
        return (self.height + self.tile_length - 1) // self.tile_length

    @property
    def n_strips(self) -> int:
        return len(self.strip_offsets)

    @property
    def dtype(self) -> np.dtype:
        if self.sample_format == 3:
            return np.dtype(f"{self.byte_order}f{self.bits // 8}")
        return np.dtype(f"{self.byte_order}u{self.bits // 8}")


def _read_values(f, bo: str, typ: int, count: int, raw: bytes):
    size = _TYPE_SIZE[typ] * count
    if size <= 4:
        data = raw[:size]
    else:
        (off,) = struct.unpack(bo + "I", raw)
        if off + size > os.fstat(f.fileno()).st_size:
            # a corrupt count would otherwise allocate up to 34 GB in f.read
            raise ValueError(
                f"TIFF tag values at offset {off} ({size} bytes) run past "
                "the end of the file"
            )
        pos = f.tell()
        f.seek(off)
        data = f.read(size)
        f.seek(pos)
    if typ == 2:  # ASCII
        return data.split(b"\x00")[0].decode("ascii", "replace")
    fmt = _TYPE_FMT.get(typ)
    if fmt is None:
        return data
    return list(struct.unpack(f"{bo}{count}{fmt}", data))


def read_tiff_meta(path: str) -> TiffMeta:
    try:
        return _read_tiff_meta(path)
    except ValueError:
        raise
    except (KeyError, struct.error, TypeError, IndexError) as e:
        # corrupt IFD entries surface as opaque struct/Key/Type errors from
        # the tag decoding (fuzz-measured); normalize to one clear error
        raise ValueError(
            f"corrupt or unsupported TIFF {path!r}: {type(e).__name__}: {e}"
        ) from e


def read_tiff_ifds(path: str) -> list[TiffMeta]:
    """Walk the full IFD chain: [full-res, overview1, overview2, ...] for
    COGs written by write_cog (each overview IFD carries its own scaled
    geo tags, so every entry is a self-describing TiffMeta); single-IFD
    files return a one-element list."""
    metas = []
    next_off = None
    seen: set[int] = set()
    while next_off != 0:
        # a corrupt next-IFD pointer can form a cycle or an absurd chain;
        # fail loudly instead of walking forever (fuzz posture)
        if next_off is not None:
            if next_off in seen or len(seen) >= 64:
                raise ValueError(
                    f"corrupt or unsupported TIFF {path!r}: IFD chain "
                    "cycle or longer than 64 entries"
                )
            seen.add(next_off)
        try:
            meta, next_off = _read_tiff_meta_at(path, next_off)
        except ValueError:
            raise
        except (KeyError, struct.error, TypeError, IndexError) as e:
            raise ValueError(
                f"corrupt or unsupported TIFF {path!r}: "
                f"{type(e).__name__}: {e}"
            ) from e
        metas.append(meta)
    return metas


def _read_tiff_meta(path: str) -> TiffMeta:
    return _read_tiff_meta_at(path, None)[0]


def _read_tiff_meta_at(
    path: str, ifd_off: int | None
) -> tuple[TiffMeta, int]:
    """Parse one IFD (``ifd_off=None`` → the first); returns the meta and
    the file offset of the next IFD in the chain (0 = end)."""
    with open(path, "rb") as f:
        magic = f.read(4)
        if magic[:2] == b"II":
            bo = "<"
        elif magic[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError(f"not a TIFF: {path}")
        if struct.unpack(bo + "H", magic[2:4])[0] != 42:
            raise ValueError(f"not a classic TIFF: {path}")
        if ifd_off is None:
            (ifd_off,) = struct.unpack(bo + "I", f.read(4))
        f.seek(ifd_off)
        (n_entries,) = struct.unpack(bo + "H", f.read(2))
        tags: dict[int, object] = {}
        for _ in range(n_entries):
            entry = f.read(12)
            tag, typ, count = struct.unpack(bo + "HHI", entry[:8])
            tags[tag] = _read_values(f, bo, typ, count, entry[8:12])
        (next_off,) = struct.unpack(bo + "I", f.read(4))

        def one(tag, default=None):
            v = tags.get(tag, default)
            return v[0] if isinstance(v, list) else v

        width, height = int(one(256)), int(one(257))
        bits = int(one(258, [8]))
        compression = int(one(259, [1]))
        sample_format = int(one(339, [1]))
        rps = int(one(278, [height]))
        offsets = tags.get(273)
        counts = tags.get(279)
        tile_w = tile_l = 0
        if offsets is None or counts is None:
            offsets = tags.get(324)  # TileOffsets
            counts = tags.get(325)  # TileByteCounts
            tile_w = int(one(322, [0]))
            tile_l = int(one(323, [0]))
            if offsets is None or counts is None or not tile_w or not tile_l:
                raise ValueError("neither strip nor tile layout found")
        scale = tags.get(33550)  # (sx, sy, sz)
        tie = tags.get(33922)  # (i, j, k, x, y, z)
        if scale is None or tie is None:
            raise ValueError("missing ModelPixelScale/ModelTiepoint geo tags")
        spp = int(one(277, [1]))
        planar = int(one(284, [1]))
        if spp > 1 and planar != 1:
            raise ValueError("multi-band TIFFs must be chunky-interleaved (PlanarConfiguration=1)")
        nod = tags.get(42113)
        # GeoKeyDirectory (SHORT array): header [ver, rev, minor, nkeys]
        # then 4-short entries [KeyID, TagLocation, Count, Value]
        crs = "EPSG:4326"
        proj = None
        gk = tags.get(34735)
        if gk:
            keys = {}
            dkeys = {}
            doubles = tags.get(34736) or []  # GeoDoubleParams
            nkeys = int(gk[3]) if len(gk) >= 4 else 0
            for ki in range(nkeys):
                base = 4 + 4 * ki
                if base + 4 <= len(gk):
                    loc = int(gk[base + 1])
                    if loc == 0:
                        keys[int(gk[base])] = int(gk[base + 3])
                    elif loc == 34736:
                        idx = int(gk[base + 3])
                        if 0 <= idx < len(doubles):
                            dkeys[int(gk[base])] = float(doubles[idx])
            if keys.get(1024) == 1:  # projected
                code = keys.get(3072, 0)
                if code == 32767:  # user-defined projection
                    crs = "USER"
                    proj = _proj_params_from_geokeys(keys, dkeys)
                else:
                    crs = "ESRI:54009" if code == 54009 else f"EPSG:{code}"
            elif keys.get(1024) == 2:  # geographic
                crs = f"EPSG:{keys.get(2048, 4326)}"
        return TiffMeta(
            path=path, width=width, height=height, bits=bits,
            sample_format=sample_format, compression=compression,
            rows_per_strip=rps,
            strip_offsets=[int(x) for x in offsets],
            strip_byte_counts=[int(x) for x in counts],
            lon0=float(tie[3]) - float(tie[0]) * float(scale[0]),
            lat1=float(tie[4]) + float(tie[1]) * float(scale[1]),
            dx=float(scale[0]), dy=float(scale[1]),
            nodata=float(nod) if nod is not None else None,
            byte_order=bo,
            samples_per_pixel=spp,
            tile_width=tile_w,
            tile_length=tile_l,
            crs=crs,
            proj=proj,
        ), int(next_off)


def _proj_params_from_geokeys(keys: dict, dkeys: dict) -> dict:
    """User-defined projected CRS (ProjectedCSTypeGeoKey 32767) →
    parameter dict for functions.crs.projection_from_params. GeoTIFF
    writers disagree on NatOrigin vs FalseOrigin vs Center keys for
    conic parameters, so each slot accepts the documented aliases
    (GeoTIFF spec §2.6.?/Annex B: 3078/3079 standard parallels,
    3080/3084/3088 origin longitude, 3081/3085/3089 origin latitude,
    3082/3086 false easting, 3083/3087 false northing)."""

    def first(*ids, default=None):
        for i in ids:
            if i in dkeys:
                return dkeys[i]
        return default

    p = {
        "ct": int(keys.get(3075, 0)),  # ProjCoordTransGeoKey
        "sp1": first(3078),
        "sp2": first(3079),
        "lon0": first(3084, 3080, 3088, default=0.0),
        "lat0": first(3085, 3081, 3089, default=0.0),
        "x0": first(3086, 3082, default=0.0),
        "y0": first(3087, 3083, default=0.0),
    }
    k0 = first(3092)  # ProjScaleAtNatOriginGeoKey (TM)
    if k0 is not None:
        p["k0"] = k0
    # user-defined ellipsoid (GeogSemiMajorAxis / GeogInvFlattening)
    a = first(2057)
    inv_f = first(2059)
    if a is not None:
        p["a"] = a
    if inv_f is not None:
        p["inv_f"] = inv_f
    # geographic base: 4326 → WGS84 ellipsoid; 4258 (ETRS89) / 4269
    # (NAD83) → GRS80 (the default); anything else keeps GRS80 too —
    # the two ellipsoids differ in the 11th digit of 1/f
    if keys.get(2048) == 4326:
        from ..functions.ellipsoid import E2_WGS84

        p["e2"] = E2_WGS84
    return p


def decode_strip(meta: TiffMeta, strip_idx: int, buf: bytes) -> np.ndarray:
    """Strip bytes → (rows, width) float64 array for single-band files, or
    (rows, width, samples) for chunky-interleaved multi-band (nodata NOT
    yet masked)."""
    if meta.compression in (8, 32946):
        buf = zlib.decompress(buf)
    elif meta.compression != 1:
        raise ValueError(f"unsupported compression {meta.compression}")
    spp = meta.samples_per_pixel
    if meta.tile_width:
        # tiles are stored padded to the full tile size; caller crops
        arr = np.frombuffer(
            buf, dtype=meta.dtype, count=meta.tile_length * meta.tile_width * spp
        )
        shape = (meta.tile_length, meta.tile_width)
    else:
        row0 = strip_idx * meta.rows_per_strip
        rows = min(meta.rows_per_strip, meta.height - row0)
        arr = np.frombuffer(buf, dtype=meta.dtype, count=rows * meta.width * spp)
        shape = (rows, meta.width)
    if spp == 1:
        return arr.reshape(shape).astype(np.float64)
    return arr.reshape(shape + (spp,)).astype(np.float64)


def tiff_pixel_table(
    spark: SparkSession, path: str, band: int = 1, level: int = 0
) -> DataFrame:
    """GeoTIFF → pixel table (band, px, py, lon, lat, value): IFD parsed
    once on the driver, strips decoded in parallel on executors (each task
    seeks and reads only its strips' byte ranges)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    if level == 0:
        meta = read_tiff_meta(path)
    else:
        # COG overview selection: IFD chain walked once on the driver;
        # each overview IFD carries its own scaled geo tags
        ifds = read_tiff_ifds(path)
        if level >= len(ifds):
            raise ValueError(
                f"overview level {level} not present — {path!r} has "
                f"{len(ifds)} IFD(s) (level 0..{len(ifds) - 1})"
            )
        meta = ifds[level]
    # resolved once here: the projection object ships in the kernel closure
    try:
        pj = projection(meta.proj if meta.crs == "USER" else meta.crs)
    except ValueError as e:
        raise ValueError(f"unsupported raster CRS {meta.crs!r}: {e}") from e
    bc = spark.sparkContext.broadcast(meta)
    schema = StructType(
        [
            StructField("band", IntegerType()),
            StructField("px", LongType()),
            StructField("py", LongType()),
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("value", DoubleType()),
        ]
    )

    def kernel(batches):
        m = bc.value
        with open(m.path, "rb") as f:
            for pdf in batches:
                for sidx in pdf["id"].tolist():
                    f.seek(m.strip_offsets[sidx])
                    arr = decode_strip(m, sidx, f.read(m.strip_byte_counts[sidx]))
                    if arr.ndim == 2:
                        arr = arr[:, :, None]
                    if m.tile_width:
                        ty, tx = divmod(sidx, m.tiles_across)
                        row0, col0 = ty * m.tile_length, tx * m.tile_width
                        rows = min(m.tile_length, m.height - row0)
                        cols = min(m.tile_width, m.width - col0)
                        arr = arr[:rows, :cols]  # crop tile padding
                        r = np.arange(row0, row0 + rows)
                        px = (col0 + np.arange(cols))[None, :]
                    else:
                        rows = arr.shape[0]
                        row0 = sidx * m.rows_per_strip
                        r = np.arange(row0, row0 + rows)
                        px = np.arange(m.width)[None, :]
                    py = (m.height - 1 - r)[:, None]
                    lon = m.lon0 + (px + 0.5) * m.dx
                    lat = m.lat1 - (r[:, None] + 0.5) * m.dy
                    shape2 = arr.shape[:2]
                    # geotransform is in the CRS's units: inverse-project
                    # pixel centres to lon/lat (identity for EPSG:4326)
                    lon, lat = pj.inverse(
                        np.broadcast_to(lon, shape2), np.broadcast_to(lat, shape2)
                    )
                    for s in range(arr.shape[2]):
                        vals = arr[:, :, s]
                        if m.nodata is not None:
                            mask = vals == m.nodata
                        else:
                            mask = np.zeros_like(vals, dtype=bool)
                        out = pd.DataFrame(
                            {
                                "band": np.full(
                                    vals.size, band + s, dtype=np.int32
                                ),
                                "px": np.broadcast_to(px, shape2).ravel(),
                                "py": np.broadcast_to(py, shape2).ravel(),
                                "lon": lon.ravel(),
                                "lat": lat.ravel(),
                                "value": vals.ravel(),
                            }
                        )
                        out.loc[mask.ravel(), "value"] = None
                        yield out

    n = meta.n_strips
    parts = min(n, spark.sparkContext.defaultParallelism * 2)
    return spark.range(0, n, 1, max(parts, 1)).mapInPandas(kernel, schema=schema)


# ------------------------------------------------------------------ writer
_WRITE_DTYPES = {
    "float64": ("<f8", 64, 3), "float32": ("<f4", 32, 3),
    "uint8": ("<u1", 8, 1), "uint16": ("<u2", 16, 1),
    "uint32": ("<u4", 32, 1),
}


def _writer_dtype(dtype: str) -> tuple[str, int, int]:
    """(numpy dtype, BitsPerSample, SampleFormat) for a writer dtype name
    — the same families the reader decodes (uint 8/16/32, float32/64)."""
    try:
        return _WRITE_DTYPES[dtype]
    except KeyError:
        raise ValueError(
            f"unsupported write dtype {dtype!r} — one of "
            f"{sorted(_WRITE_DTYPES)}"
        ) from None


def _crs_geokey_entries(crs) -> list[tuple[int, int, object]]:
    """Tag entries encoding a CRS: 34735 GeoKeyDirectory shorts, plus
    34736 GeoDoubleParams when ``crs`` is a user-defined parameter dict
    ({"ct": 8|10|11, "sp1", "sp2", "lat0", "lon0", "x0", "y0"}) — the
    writer-side twin of _proj_params_from_geokeys."""
    if isinstance(crs, dict):
        doubles: list[float] = []
        dk_rows: list[tuple[int, int, int, int]] = []

        def dk(keyid: int, val) -> None:
            if val is not None:
                dk_rows.append((keyid, 34736, 1, len(doubles)))
                doubles.append(float(val))

        keys = [
            (1024, 0, 1, 1),  # projected model
            (3072, 0, 1, 32767),  # user-defined ProjectedCSType
            (3075, 0, 1, int(crs["ct"])),  # coord transformation code
            (3076, 0, 1, 9001),  # linear units: meters
        ]
        dk(2057, crs.get("a"))
        dk(2059, crs.get("inv_f"))
        dk(3078, crs.get("sp1"))
        dk(3079, crs.get("sp2"))
        if int(crs["ct"]) == 1:
            # Transverse Mercator: GDAL-family writers/readers use the
            # NatOrigin keys (3080-3083); FalseOrigin keys stay reserved
            # for the conic families. Mirrors the alias preference order
            # in _proj_params_from_geokeys, and keeps external readers
            # able to recover TM parameters.
            dk(3080, crs.get("lon0"))
            dk(3081, crs.get("lat0"))
            dk(3082, crs.get("x0"))
            dk(3083, crs.get("y0"))
        else:
            dk(3084, crs.get("lon0"))
            dk(3085, crs.get("lat0"))
            dk(3086, crs.get("x0"))
            dk(3087, crs.get("y0"))
        dk(3092, crs.get("k0"))
        keys += dk_rows
        shorts = [1, 1, 0, len(keys)]
        for row in keys:
            shorts.extend(row)
        out: list[tuple[int, int, object]] = [(34735, 3, shorts)]
        if doubles:
            out.append((34736, 12, doubles))
        return out
    if crs == "ESRI:54009":
        keys = [(1024, 0, 1, 1), (3072, 0, 1, 54009)]
    elif crs.upper() == "EPSG:4326":
        keys = [(1024, 0, 1, 2), (2048, 0, 1, 4326)]
    elif crs.upper().startswith("EPSG:"):  # projected EPSG code
        keys = [(1024, 0, 1, 1), (3072, 0, 1, int(crs.split(":")[1]))]
    else:
        raise ValueError(f"unsupported crs {crs!r}")
    shorts = [1, 1, 0, len(keys)]
    for row in keys:
        shorts.extend(row)
    return [(34735, 3, shorts)]


def write_tiff(
    path: str,
    array: np.ndarray,
    lon0: float,
    lat1: float,
    dx: float,
    dy: float,
    nodata: float | None = None,
    rows_per_strip: int = 64,
    compression: int = 8,
    tile_size: tuple[int, int] | None = None,
    crs: str | None = None,
    dtype: str = "float64",
) -> str:
    """Minimal GeoTIFF writer (float64 default; float32 and uint8/16/32
    samples via ``dtype`` — the same families the reader decodes; strip
    layout or COG-style tiles via tile_size=(width, length), optional
    DEFLATE; 2-d array → single band, 3-d (h, w, bands) → chunky
    interleaved) — the deterministic test/fixture producer; everything
    it emits, read_tiff_meta/decode_strip round-trip bit-exactly."""
    np_dt, bits, sfmt = _writer_dtype(dtype)
    arr = np.ascontiguousarray(array, dtype=np_dt)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    height, width, spp = arr.shape
    strips = []
    if tile_size:
        tw, tl = tile_size
        for r0 in range(0, height, tl):
            for c0 in range(0, width, tw):
                tile = np.zeros((tl, tw, spp), dtype=np_dt)
                block = arr[r0 : r0 + tl, c0 : c0 + tw]
                tile[: block.shape[0], : block.shape[1]] = block
                raw = tile.tobytes()
                strips.append(zlib.compress(raw) if compression == 8 else raw)
    else:
        for r0 in range(0, height, rows_per_strip):
            raw = arr[r0 : r0 + rows_per_strip].tobytes()
            strips.append(zlib.compress(raw) if compression == 8 else raw)
    if spp == 1:
        arr = arr[:, :, 0]

    entries = []  # (tag, type, count, value_bytes_or_int)
    extra: list[bytes] = []
    header_size = 8
    # IFD placed right after header; compute layout in two passes
    def add(tag, typ, values):
        entries.append((tag, typ, values))

    offsets_tag = 324 if tile_size else 273
    counts_tag = 325 if tile_size else 279
    add(256, 4, [width])
    add(257, 4, [height])
    add(258, 3, [bits] * spp)
    add(259, 3, [compression if compression == 8 else 1])
    add(262, 3, [1])
    add(offsets_tag, 4, None)  # strip/tile offsets — patched below
    add(277, 3, [spp])
    if tile_size:
        add(322, 4, [tile_size[0]])
        add(323, 4, [tile_size[1]])
    else:
        add(278, 4, [rows_per_strip])
    add(counts_tag, 4, [len(s) for s in strips])
    add(284, 3, [1])  # chunky interleave
    add(339, 3, [sfmt] * spp)
    add(33550, 12, [dx, dy, 0.0])
    add(33922, 12, [0.0, 0.0, 0.0, lon0, lat1, 0.0])
    if crs is not None:
        # GeoKeyDirectory (+ GeoDoubleParams for user-defined dicts)
        for gtag, gtyp, gvals in _crs_geokey_entries(crs):
            add(gtag, gtyp, gvals)
    if nodata is not None:
        nd = (repr(float(nodata)) + "\x00").encode("ascii")
        add(42113, 2, nd)
    entries.sort(key=lambda e: e[0])

    n = len(entries)
    ifd_off = header_size
    ifd_size = 2 + 12 * n + 4
    data_off = ifd_off + ifd_size

    # lay out out-of-line values then strip data
    blobs: dict[int, tuple[int, bytes]] = {}
    cursor = data_off
    for tag, typ, values in entries:
        if tag == offsets_tag:
            values = [0] * len(strips)  # placeholder, patched after layout
        if typ == 2:
            data = values
        else:
            fmt = _TYPE_FMT[typ]
            data = struct.pack(f"<{len(values)}{fmt}", *values)
        if len(data) > 4:
            blobs[tag] = (cursor, data)
            cursor += len(data)
    strip_offs = []
    for s in strips:
        strip_offs.append(cursor)
        cursor += len(s)
    # re-encode strip offsets with real positions
    so_data = struct.pack(f"<{len(strip_offs)}I", *strip_offs)
    if len(so_data) > 4:
        if offsets_tag in blobs:
            blobs[offsets_tag] = (blobs[offsets_tag][0], so_data)
        else:
            blobs[offsets_tag] = (cursor, so_data)
            cursor += len(so_data)

    with open(path, "wb") as f:
        f.write(struct.pack("<2sHI", b"II", 42, ifd_off))
        f.write(struct.pack("<H", n))
        for tag, typ, values in entries:
            if tag == offsets_tag:
                values = strip_offs
            if typ == 2:
                data = values
                count = len(values)
            else:
                fmt = _TYPE_FMT[typ]
                data = struct.pack(f"<{len(values)}{fmt}", *values)
                count = len(values)
            if len(data) > 4:
                off, blob = blobs[tag]
                f.write(struct.pack("<HHI", tag, typ, count))
                f.write(struct.pack("<I", off))
            else:
                f.write(struct.pack("<HHI", tag, typ, count))
                f.write(data.ljust(4, b"\x00"))
        f.write(struct.pack("<I", 0))  # no next IFD
        for tag in sorted(blobs):
            off, blob = blobs[tag]
            assert f.tell() == off, (tag, f.tell(), off)
            f.write(blob)
        for s in strips:
            f.write(s)
    return path


def downsample2_mean(arr: np.ndarray, nodata: float | None) -> np.ndarray:
    """Nodata-aware 2× average reduction (GDAL 'average' overview
    semantics) with an EXPLICIT summation order — ((a+b)+(c+d))/n over
    each 2×2 block — so a SQL oracle can replay it bit-for-bit. 2-d
    (h, w) or 3-d (h, w, bands); odd edges are treated as
    partially-valid blocks (mean of the present pixels)."""
    arr = np.asarray(arr, dtype=np.float64)
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    H, W = (h + 1) // 2, (w + 1) // 2
    fill = nodata if nodata is not None else np.nan
    padded = np.full((2 * H, 2 * W, spp), fill, dtype=np.float64)
    padded[:h, :w] = arr
    a = padded[0::2, 0::2]
    b = padded[0::2, 1::2]
    c = padded[1::2, 0::2]
    d = padded[1::2, 1::2]
    if nodata is not None:
        va, vb = a != nodata, b != nodata
        vc, vd = c != nodata, d != nodata
    else:
        va, vb = ~np.isnan(a), ~np.isnan(b)
        vc, vd = ~np.isnan(c), ~np.isnan(d)
    s = (np.where(va, a, 0.0) + np.where(vb, b, 0.0)) + (
        np.where(vc, c, 0.0) + np.where(vd, d, 0.0)
    )
    n = (
        va.astype(np.int64) + vb.astype(np.int64)
        + vc.astype(np.int64) + vd.astype(np.int64)
    )
    out = np.where(n > 0, s / np.maximum(n, 1), fill)
    return out[:, :, 0] if squeeze else out


def downsample2_mean_int(arr: np.ndarray, nodata: int | None) -> np.ndarray:
    """Integer twin of downsample2_mean — GDAL-style integer 'average'
    accumulation with the ROUND-HALF-UP policy (== round half away from
    zero for the writer's unsigned dtypes), in pure integer arithmetic:

        avg = (2*sum + n) // (2*n)    over the n valid pixels of each
                                      2x2 block (n in 1..4)

    (GDAL's overview.cpp accumulates integer sums and rounds the same
    way for Byte/UInt16 'average' overviews.) No float touches the
    data, so a SQL oracle replays it bit-for-bit with BIGINT ops."""
    arr = np.asarray(arr)
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    H, W = (h + 1) // 2, (w + 1) // 2
    fill = int(nodata) if nodata is not None else 0
    padded = np.full((2 * H, 2 * W, spp), fill, dtype=np.int64)
    padded[:h, :w] = arr
    a = padded[0::2, 0::2]
    b = padded[0::2, 1::2]
    c = padded[1::2, 0::2]
    d = padded[1::2, 1::2]
    if nodata is not None:
        va, vb = a != fill, b != fill
        vc, vd = c != fill, d != fill
    else:
        # nodata=None: validity = in-bounds coordinates, so the zero-fill
        # padding on odd-dimension edges is never averaged into real
        # pixels (round-6 advisory; mirrors the float path's NaN masking)
        r_even = (np.arange(H) * 2)[:, None, None]
        r_odd = r_even + 1
        c_even = (np.arange(W) * 2)[None, :, None]
        c_odd = c_even + 1
        va = (r_even < h) & (c_even < w)
        vb = (r_even < h) & (c_odd < w)
        vc = (r_odd < h) & (c_even < w)
        vd = (r_odd < h) & (c_odd < w)
    s = (np.where(va, a, 0) + np.where(vb, b, 0)) + (
        np.where(vc, c, 0) + np.where(vd, d, 0)
    )
    n = (
        va.astype(np.int64) + vb.astype(np.int64)
        + vc.astype(np.int64) + vd.astype(np.int64)
    )
    out = np.where(n > 0, (2 * s + n) // np.maximum(2 * n, 1), fill)
    return out[:, :, 0] if squeeze else out


def write_cog(
    path: str,
    array: np.ndarray,
    lon0: float,
    lat1: float,
    dx: float,
    dy: float,
    nodata: float | None = None,
    tile_size: tuple[int, int] = (256, 256),
    compression: int = 8,
    crs: str | None = None,
    min_overview_size: int = 256,
    dtype: str = "float64",
) -> str:
    """Cloud-optimized GeoTIFF writer — the reference's to_cog sink
    (gigaspatial/handlers/tif_processor.py:2079, rio-cogeo role) from
    scratch: tiled layout, internal 2× 'average' overviews down to
    min_overview_size, and the COG byte layout (header → full IFD chain →
    tag values → tile data with the SMALLEST overview first and the
    full-resolution level last, so a range-reader renders a preview from
    a short prefix). Every overview IFD carries NewSubfileType=1 plus its
    own scaled geo tags, so read_tiff_ifds / tiff_pixel_table(level=k)
    treat each level as a self-describing raster. float64 (default) or
    float32 samples, 2-d single band or 3-d (h, w, bands) chunky
    interleave, like write_tiff; uint8/16/32 samples build their
    pyramids with downsample2_mean_int's documented round-half-up
    integer 'average' (GDAL's integer accumulation policy).
    """
    np_dt, bits, sfmt = _writer_dtype(dtype)
    if sfmt == 1 and nodata is not None and float(nodata) != int(nodata):
        raise ValueError(
            f"write_cog: integer dtype {dtype!r} needs an integral "
            f"nodata, got {nodata!r}"
        )
    arr = np.ascontiguousarray(array, dtype=np_dt)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    tw, tl = tile_size

    # --- overview pyramid (nodata-aware 2x average) ---
    levels: list[dict] = []
    cur, cdx, cdy = arr, float(dx), float(dy)
    while True:
        levels.append({"arr": cur, "dx": cdx, "dy": cdy})
        h, w = cur.shape[:2]
        if max(h, w) <= min_overview_size:
            break
        if sfmt == 1:
            cur = downsample2_mean_int(
                cur, int(nodata) if nodata is not None else None
            )
        else:
            cur = downsample2_mean(cur, nodata)
        if cur.ndim == 2:
            cur = cur[:, :, None]
        cdx, cdy = cdx * 2.0, cdy * 2.0

    # --- per-level tiles + IFD entries ---
    for lv_i, lv in enumerate(levels):
        a = lv["arr"]
        height, width, spp = a.shape
        tiles = []
        for r0 in range(0, height, tl):
            for c0 in range(0, width, tw):
                tile = np.full(
                    (tl, tw, spp),
                    nodata if nodata is not None else 0.0,
                    dtype=np_dt,
                )
                block = a[r0 : r0 + tl, c0 : c0 + tw]
                tile[: block.shape[0], : block.shape[1]] = block
                raw = tile.tobytes()
                tiles.append(zlib.compress(raw) if compression == 8 else raw)
        entries = []
        if lv_i > 0:
            entries.append((254, 4, [1]))  # NewSubfileType: reduced-res
        entries.append((256, 4, [width]))
        entries.append((257, 4, [height]))
        entries.append((258, 3, [bits] * spp))
        entries.append((259, 3, [compression if compression == 8 else 1]))
        entries.append((262, 3, [1]))
        entries.append((277, 3, [spp]))
        entries.append((284, 3, [1]))
        entries.append((322, 4, [tw]))
        entries.append((323, 4, [tl]))
        entries.append((324, 4, [0] * len(tiles)))  # patched after layout
        entries.append((325, 4, [len(t) for t in tiles]))
        entries.append((339, 3, [sfmt] * spp))
        entries.append((33550, 12, [lv["dx"], lv["dy"], 0.0]))
        entries.append((33922, 12, [0.0, 0.0, 0.0, lon0, lat1, 0.0]))
        if crs is not None:
            entries.extend(_crs_geokey_entries(crs))
        if nodata is not None:
            nd = (repr(float(nodata)) + "\x00").encode("ascii")
            entries.append((42113, 2, nd))
        entries.sort(key=lambda e: e[0])
        lv["tiles"] = tiles
        lv["entries"] = entries

    # --- layout: header | IFD chain | tag blobs | tile data (smallest
    # overview first, full-res last — the COG convention) ---
    def packed(typ, values):
        if typ == 2:
            return values
        return struct.pack(f"<{len(values)}{_TYPE_FMT[typ]}", *values)

    cursor = 8
    for lv in levels:
        lv["ifd_off"] = cursor
        cursor += 2 + 12 * len(lv["entries"]) + 4
    for lv in levels:
        blob_offs = {}
        for tag, typ, values in lv["entries"]:
            data = packed(typ, values)
            if len(data) > 4:
                blob_offs[tag] = cursor
                cursor += len(data)
        lv["blob_offs"] = blob_offs
    for lv in reversed(levels):
        offs = []
        for t in lv["tiles"]:
            offs.append(cursor)
            cursor += len(t)
        lv["tile_offs"] = offs
        # patch the 324 entry with real offsets
        lv["entries"] = [
            (tag, typ, offs if tag == 324 else values)
            for tag, typ, values in lv["entries"]
        ]

    with open(path, "wb") as f:
        f.write(struct.pack("<2sHI", b"II", 42, levels[0]["ifd_off"]))
        for i, lv in enumerate(levels):
            assert f.tell() == lv["ifd_off"]
            f.write(struct.pack("<H", len(lv["entries"])))
            for tag, typ, values in lv["entries"]:
                data = packed(typ, values)
                count = len(values)
                f.write(struct.pack("<HHI", tag, typ, count))
                if len(data) > 4:
                    f.write(struct.pack("<I", lv["blob_offs"][tag]))
                else:
                    f.write(data.ljust(4, b"\x00"))
            nxt = levels[i + 1]["ifd_off"] if i + 1 < len(levels) else 0
            f.write(struct.pack("<I", nxt))
        for lv in levels:
            for tag, typ, values in lv["entries"]:
                data = packed(typ, values)
                if len(data) > 4:
                    assert f.tell() == lv["blob_offs"][tag], (tag,)
                    f.write(data)
        for lv in reversed(levels):
            assert f.tell() == lv["tile_offs"][0]
            for t in lv["tiles"]:
                f.write(t)
    return path


COG_PIXEL_LIMIT = 200_000_000  # ~1.6 GB of float64 samples on the driver


def pixel_table_to_cog(
    df,
    path: str,
    width: int,
    height: int,
    lon0: float,
    lat1: float,
    dx: float,
    dy: float,
    nodata: float = -9999.0,
    value_col: str = "value",
    crs=None,
    max_pixels: int = COG_PIXEL_LIMIT,
    **cog_kw,
) -> str:
    """Bridge a (px, py, value) pixel-table DataFrame to the COG sink —
    the reference's to_cog writes rasters it holds as arrays
    (tif_processor.py:2079); the engine's raster currency is the pixel
    table, so this collects the table into the dense grid and hands it
    to write_cog. A raster is bounded by its GRID, not the corpus, but
    the collect is still size-guarded (the ann.GEMM_CORPUS_LIMIT
    pattern): callers with a larger canvas should tile it into multiple
    COGs rather than assemble one giant mosaic on the driver.

    ``py`` follows the pixel-table convention (counted from the SOUTH
    edge, operators/raster.py); missing pixels become nodata."""
    n_px = width * height
    if n_px > max_pixels:
        raise ValueError(
            f"pixel_table_to_cog: {width}x{height} = {n_px:,} pixels "
            f"exceeds the driver-assembly guard ({max_pixels:,}); write "
            "the canvas as multiple COG tiles (one pixel_table_to_cog "
            "per sub-grid) instead of one driver-side mosaic"
        )
    pdf = df.select("px", "py", value_col).toPandas()
    px = pdf["px"].to_numpy(dtype=np.int64)
    py = pdf["py"].to_numpy(dtype=np.int64)
    oob = (px < 0) | (px >= width) | (py < 0) | (py >= height)
    if oob.any():
        bad = pdf.loc[oob, ["px", "py"]].head(5).to_dict("records")
        raise ValueError(
            f"pixel_table_to_cog: {int(oob.sum())} pixel(s) outside the "
            f"{width}x{height} canvas (need 0 <= px < {width}, "
            f"0 <= py < {height}); first offenders: {bad} — negative "
            "indices would silently wrap to the opposite raster edge"
        )
    grid = np.full((height, width), float(nodata), dtype=np.float64)
    rows = height - 1 - py
    cols = px
    vals = pdf[value_col].to_numpy(dtype=np.float64)
    keep = ~np.isnan(vals)
    grid[rows[keep], cols[keep]] = vals[keep]
    return write_cog(
        path, grid, lon0=lon0, lat1=lat1, dx=dx, dy=dy, nodata=nodata,
        crs=crs, **cog_kw,
    )
