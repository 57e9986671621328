"""FlatGeobuf codec — from-scratch minimal flatbuffer parser/builder.

The reference reads .fgb through geopandas/GDAL (core/io/readers.py
GEO_READERS['.fgb']); neither GDAL nor the flatbuffers runtime exists in
this container, so the subset of the public FlatGeobuf v3 layout
(https://flatgeobuf.org, BSD-licensed spec) the engine needs is
implemented directly, the same pattern as sources/geotiff.py /
sources/shapefile.py:

  file  = magic(8) ┃ u32-size-prefixed Header flatbuffer ┃
          optional packed Hilbert R-tree index ┃
          u32-size-prefixed Feature flatbuffers

Scale path: the driver parses the header and builds the per-feature byte
offsets — from the index's LEAF level when an index is present (leaf nodes
carry each feature's byte offset), else one sequential size-prefix walk —
then executors byte-range-read and decode their own feature spans, so
parallelism scales with feature count.

Output matches read_geojson: feature_id, geom_type, rings (flattened
open-ring convention), properties (map<string,string>).

The writer emits an index-free FGB (index is optional per spec) and exists
for fixtures/round-trips — the reference's GEO_WRITERS does not write fgb
either.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..winding import wind_member
from .readers import FEATURE_SCHEMA

MAGIC = b"fgb\x03fgb\x00"

GEOM_TYPES = {
    0: None, 1: "Point", 2: "LineString", 3: "Polygon", 4: "MultiPoint",
    5: "MultiLineString", 6: "MultiPolygon", 7: "GeometryCollection",
}
GEOM_CODES = {v: k for k, v in GEOM_TYPES.items() if v}

# ColumnType enum (header.fbs): fixed sizes; None = length-prefixed
_COL_SIZES = {
    0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 4, 6: 4, 7: 8, 8: 8, 9: 4, 10: 8,
    11: None, 12: None, 13: None, 14: None,
}
_COL_FMT = {
    0: "b", 1: "B", 2: "?", 3: "h", 4: "H", 5: "i", 6: "I", 7: "q",
    8: "Q", 9: "f", 10: "d",
}
COL_STRING = 11


# --------------------------------------------------------- flatbuffer read
class _FB:
    """Minimal flatbuffer table accessor (little-endian, per the wire
    format: root uoffset → table; table starts with soffset32 back to its
    vtable; vtable = [vt_size u16, tbl_size u16, field offsets u16...])."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos  # table position
        (soff,) = struct.unpack_from("<i", buf, pos)
        self.vt = pos - soff
        (self.vt_size,) = struct.unpack_from("<H", buf, self.vt)

    @classmethod
    def root(cls, buf: bytes, offset: int = 0) -> "_FB":
        (uoff,) = struct.unpack_from("<I", buf, offset)
        return cls(buf, offset + uoff)

    def _field_off(self, idx: int) -> int:
        slot = 4 + 2 * idx
        if slot + 2 > self.vt_size:
            return 0
        (voff,) = struct.unpack_from("<H", self.buf, self.vt + slot)
        return voff

    def scalar(self, idx: int, fmt: str, default=0):
        voff = self._field_off(idx)
        if not voff:
            return default
        return struct.unpack_from("<" + fmt, self.buf, self.pos + voff)[0]

    def _indirect(self, idx: int) -> int | None:
        voff = self._field_off(idx)
        if not voff:
            return None
        p = self.pos + voff
        (uoff,) = struct.unpack_from("<I", self.buf, p)
        return p + uoff

    def string(self, idx: int) -> str | None:
        tgt = self._indirect(idx)
        if tgt is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, tgt)
        return self.buf[tgt + 4: tgt + 4 + n].decode("utf-8", "replace")

    def vector(self, idx: int, dtype: str) -> np.ndarray | None:
        tgt = self._indirect(idx)
        if tgt is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, tgt)
        return np.frombuffer(self.buf, dtype="<" + dtype, count=n, offset=tgt + 4)

    def vector_bytes(self, idx: int) -> bytes | None:
        tgt = self._indirect(idx)
        if tgt is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, tgt)
        return self.buf[tgt + 4: tgt + 4 + n]

    def table_vector(self, idx: int) -> list["_FB"]:
        tgt = self._indirect(idx)
        if tgt is None:
            return []
        (n,) = struct.unpack_from("<I", self.buf, tgt)
        out = []
        for i in range(n):
            p = tgt + 4 + 4 * i
            (uoff,) = struct.unpack_from("<I", self.buf, p)
            out.append(_FB(self.buf, p + uoff))
        return out

    def table(self, idx: int) -> "_FB | None":
        tgt = self._indirect(idx)
        return None if tgt is None else _FB(self.buf, tgt)


# ------------------------------------------------------------------ header
@dataclass
class FgbMeta:
    path: str
    geometry_type: int
    columns: list[tuple[str, int]]  # (name, ColumnType)
    features_count: int
    index_node_size: int
    feature_offsets: np.ndarray = field(default_factory=lambda: np.array([]))
    feature_lengths: np.ndarray = field(default_factory=lambda: np.array([]))


def _index_size(n_features: int, node_size: int) -> int:
    """Packed Hilbert R-tree byte size: 40-byte nodes over all levels
    (leaves included)."""
    if n_features == 0:
        return 0
    sizes = []
    n = n_features
    while True:
        sizes.append(n)
        if n == 1:
            break
        n = (n + node_size - 1) // node_size
    return sum(sizes) * 40


def read_fgb_meta(path: str) -> FgbMeta:
    with open(path, "rb") as f:
        if f.read(8) != MAGIC:
            raise ValueError(f"not a FlatGeobuf file: {path}")
        (hsize,) = struct.unpack("<I", f.read(4))
        header = _FB.root(f.read(hsize))
        geometry_type = header.scalar(2, "B")
        columns = [
            (c.string(0), c.scalar(1, "B")) for c in header.table_vector(7)
        ]
        features_count = header.scalar(8, "Q")
        node_size = header.scalar(9, "H", 16)
        data_start = 8 + 4 + hsize
        idx_bytes = 0
        if node_size > 0 and features_count > 0:
            idx_bytes = _index_size(features_count, node_size)
        meta = FgbMeta(
            path=os.path.abspath(path),
            geometry_type=geometry_type,
            columns=columns,
            features_count=features_count,
            index_node_size=node_size,
        )
        feat_start = data_start + idx_bytes
        if idx_bytes:
            # the packed tree is stored root level first, leaves last; each
            # 40-byte node = 4 bbox doubles + u64 offset, leaf offsets
            # relative to the feature-section start
            f.seek(feat_start - features_count * 40)
            leaf = np.frombuffer(
                f.read(features_count * 40),
                dtype=np.dtype([("bbox", "<f8", 4), ("off", "<u8")]),
            )
            offsets = leaf["off"].astype(np.int64) + feat_start
            offsets = np.sort(offsets)
            file_end = os.path.getsize(path)
            ends = np.append(offsets[1:], file_end)
            meta.feature_offsets = offsets
            meta.feature_lengths = ends - offsets
        else:
            # sequential size-prefix walk (header-only reads)
            offs, lens = [], []
            pos = feat_start
            end = os.path.getsize(path)
            while pos + 4 <= end and (
                meta.features_count == 0 or len(offs) < meta.features_count
            ):
                f.seek(pos)
                (sz,) = struct.unpack("<I", f.read(4))
                offs.append(pos)
                lens.append(4 + sz)
                pos += 4 + sz
            meta.feature_offsets = np.asarray(offs, dtype=np.int64)
            meta.feature_lengths = np.asarray(lens, dtype=np.int64)
            if meta.features_count == 0:
                meta.features_count = len(offs)
        return meta


def _geometry_rings(geom: _FB, gtype: int) -> tuple[str | None, list | None]:
    t = geom.scalar(6, "B") or gtype
    name = GEOM_TYPES.get(t)
    if name is None:
        return None, None
    if name in ("Point", "LineString", "MultiPoint"):
        xy = geom.vector(1, "f8")
        if xy is None:
            return None, None
        pts = xy.reshape(-1, 2).tolist()
        return name, [pts]
    if name in ("Polygon", "MultiLineString"):
        xy = geom.vector(1, "f8")
        if xy is None:
            return None, None
        pts = xy.reshape(-1, 2)
        ends = geom.vector(0, "u4")
        bounds = (
            [0, len(pts)]
            if ends is None or not len(ends)
            else [0] + list(ends.astype(int))
        )
        rings = []
        for i in range(len(bounds) - 1):
            ring = pts[bounds[i]: bounds[i + 1]]
            if name == "Polygon" and len(ring) >= 2 and (ring[0] == ring[-1]).all():
                ring = ring[:-1]
            rings.append(ring.tolist())
        # FGB imposes no ring orientation; normalize while outer/hole roles
        # are explicit (first ring = outer)
        return name, (wind_member(rings) if name == "Polygon" else rings)
    if name in ("MultiPolygon", "GeometryCollection"):
        parts = geom.table_vector(7)
        rings: list = []
        for p in parts:
            _, rs = _geometry_rings(p, 3 if name == "MultiPolygon" else 0)
            if rs:
                rings.extend(rs)
        return name, rings
    return None, None


def _decode_properties(
    buf: bytes | None, columns: list[tuple[str, int]]
) -> dict | None:
    if buf is None:
        return {}
    out: dict[str, str | None] = {}
    pos = 0
    while pos + 2 <= len(buf):
        (ci,) = struct.unpack_from("<H", buf, pos)
        pos += 2
        if ci >= len(columns):  # column index past the schema: stop cleanly
            break
        name, ctype = columns[ci]
        size = _COL_SIZES.get(ctype)
        if size is None:  # length-prefixed (string/json/datetime/binary)
            (n,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            raw = buf[pos: pos + n]
            pos += n
            out[name] = raw.decode("utf-8", "replace")
        else:
            (v,) = struct.unpack_from("<" + _COL_FMT[ctype], buf, pos)
            pos += size
            if ctype == 2:  # Bool
                out[name] = "true" if v else "false"
            elif ctype in (9, 10):
                out[name] = repr(float(v))
            else:
                out[name] = str(int(v))
    return out


def decode_feature(
    buf: bytes, gtype: int, columns: list[tuple[str, int]]
) -> tuple[str | None, list | None, dict | None]:
    """One u32-size-prefixed Feature flatbuffer → (geom_type, rings,
    properties)."""
    feat = _FB.root(buf, 4)
    geom = feat.table(0)
    gt = rings = None
    if geom is not None:
        gt, rings = _geometry_rings(geom, gtype)
    props = _decode_properties(feat.vector_bytes(1), columns)
    return gt, rings, props


def read_fgb(spark: SparkSession, path: str) -> DataFrame:
    """.fgb → normalized feature table, features decoded executor-side by
    byte range."""
    import pandas as pd

    meta = read_fgb_meta(path)
    bc = spark.sparkContext.broadcast(meta)

    def kernel(batches):
        m = bc.value
        with open(m.path, "rb") as f:
            for pdf in batches:
                rows = {
                    "feature_id": [], "geom_type": [], "rings": [], "properties": [],
                }
                for i in pdf["id"].tolist():
                    f.seek(m.feature_offsets[i])
                    buf = f.read(int(m.feature_lengths[i]))
                    gt, rings, props = decode_feature(
                        buf, m.geometry_type, m.columns
                    )
                    rows["feature_id"].append(i)
                    rows["geom_type"].append(gt)
                    rows["rings"].append(rings)
                    rows["properties"].append(props)
                yield pd.DataFrame(rows)

    n = len(meta.feature_offsets)
    parts = max(1, min(n, spark.sparkContext.defaultParallelism * 2))
    return spark.range(0, n, 1, parts).mapInPandas(kernel, schema=FEATURE_SCHEMA)


# -------------------------------------------------------- flatbuffer write
class _Fwd:
    """Forward-layout flatbuffer assembler. uoffsets are unsigned and point
    FORWARD (target = slot_pos + uoff), so a parent table laid out before
    its children is valid wire format; soffsets are signed, so a vtable
    placed after its table works too. Positions are absolute in the buffer;
    offset slots are patched once targets exist."""

    def __init__(self):
        self.buf = bytearray()

    def align(self, a: int):
        while len(self.buf) % a:
            self.buf += b"\x00"

    def u32_slot(self) -> int:
        self.align(4)
        pos = len(self.buf)
        self.buf += b"\x00\x00\x00\x00"
        return pos

    def patch_uoffset(self, slot: int, target: int):
        struct.pack_into("<I", self.buf, slot, target - slot)

    def table(self, fields: list[tuple[int, str, object]]) -> tuple[int, dict]:
        """Lay out a table with its vtable immediately after. fields:
        (idx, kind, value); kind 'u8'/'u16'/'u64' inline scalars, 'off' an
        offset slot (value ignored; slot position returned for patching).
        Returns (table_pos, {idx: slot_pos})."""
        self.align(8)
        t_pos = len(self.buf)
        self.buf += b"\x00\x00\x00\x00"  # soffset placeholder
        slots: dict[int, int] = {}
        off_slots: dict[int, int] = {}
        sizes = {"u8": 1, "u16": 2, "u64": 8, "off": 4}
        for idx, kind, val in sorted(fields, key=lambda t: -sizes[t[1]]):
            self.align(sizes[kind])
            pos = len(self.buf)
            if kind == "u8":
                self.buf += struct.pack("<B", val)
            elif kind == "u16":
                self.buf += struct.pack("<H", val)
            elif kind == "u64":
                self.buf += struct.pack("<Q", val)
            else:
                self.buf += b"\x00\x00\x00\x00"
                off_slots[idx] = pos
            slots[idx] = pos - t_pos
        tbl_size = len(self.buf) - t_pos
        max_idx = max((i for i, _, _ in fields), default=-1)
        self.align(2)
        vt_pos = len(self.buf)
        self.buf += struct.pack("<HH", 4 + 2 * (max_idx + 1), tbl_size)
        for i in range(max_idx + 1):
            self.buf += struct.pack("<H", slots.get(i, 0))
        struct.pack_into("<i", self.buf, t_pos, t_pos - vt_pos)
        return t_pos, off_slots

    def vector_f64(self, vals) -> int:
        self.align(8)
        # length prefix must sit directly before the 8-aligned data
        if len(self.buf) % 8 != 4:
            self.buf += b"\x00\x00\x00\x00"
        pos = len(self.buf)
        arr = np.asarray(vals, dtype="<f8")
        self.buf += struct.pack("<I", len(arr)) + arr.tobytes()
        return pos

    def vector_u32(self, vals) -> int:
        self.align(4)
        pos = len(self.buf)
        arr = np.asarray(vals, dtype="<u4")
        self.buf += struct.pack("<I", len(arr)) + arr.tobytes()
        return pos

    def vector_u8(self, data: bytes) -> int:
        self.align(4)
        pos = len(self.buf)
        self.buf += struct.pack("<I", len(data)) + bytes(data)
        return pos

    def string(self, s: str) -> int:
        raw = s.encode("utf-8")
        self.align(4)
        pos = len(self.buf)
        self.buf += struct.pack("<I", len(raw)) + raw + b"\x00"
        return pos

    def vector_offset_slots(self, n: int) -> tuple[int, list[int]]:
        self.align(4)
        pos = len(self.buf)
        self.buf += struct.pack("<I", n)
        slots = []
        for _ in range(n):
            slots.append(len(self.buf))
            self.buf += b"\x00\x00\x00\x00"
        return pos, slots


def _build_geometry(b: _Fwd, geom_type: str, rings: list) -> int:
    """Geometry table (feature.fbs: ends idx0, xy idx1, type idx6,
    parts idx7) laid out parent-first."""
    from .geo_writers import _ring_arr, group_rings

    code = GEOM_CODES[geom_type]
    if geom_type == "MultiPolygon":
        members = group_rings(rings)
        t, offs = b.table([(6, "u8", code), (7, "off", None)])
        vec_slot = offs[7]
        vpos, slots = b.vector_offset_slots(len(members))
        b.patch_uoffset(vec_slot, vpos)
        for slot, member in zip(slots, members):
            child = _build_geometry(b, "Polygon", [r.tolist() for r in member])
            b.patch_uoffset(slot, child)
        return t
    if geom_type in ("Point", "LineString", "MultiPoint"):
        xy = _ring_arr(rings[0]).ravel()
        t, offs = b.table([(1, "off", None), (6, "u8", code)])
        b.patch_uoffset(offs[1], b.vector_f64(xy))
        return t
    if geom_type in ("Polygon", "MultiLineString"):
        arrs = [_ring_arr(r) for r in rings]
        if geom_type == "Polygon":
            arrs = [np.vstack([a, a[:1]]) for a in arrs]  # close rings
        xy = np.vstack(arrs).ravel()
        fields = [(1, "off", None), (6, "u8", code)]
        need_ends = len(arrs) > 1
        if need_ends:
            fields.insert(0, (0, "off", None))
        t, offs = b.table(fields)
        if need_ends:
            ends = np.cumsum([len(a) for a in arrs]).astype(np.uint32)
            b.patch_uoffset(offs[0], b.vector_u32(ends))
        b.patch_uoffset(offs[1], b.vector_f64(xy))
        return t
    raise ValueError(f"unsupported geometry type {geom_type!r}")


def _size_prefixed(payload: bytearray, root: int) -> bytes:
    """Wrap an assembled buffer: [u32 size][u32 root uoffset][payload…] with
    the root uoffset measured from its own position."""
    head = struct.pack("<I", root + 4)
    return struct.pack("<I", len(payload) + 4) + head + bytes(payload)


def _feature_bbox(rings: list) -> tuple[float, float, float, float]:
    pts = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    return (
        float(pts[:, 0].min()), float(pts[:, 1].min()),
        float(pts[:, 0].max()), float(pts[:, 1].max()),
    )


def _build_index(
    bboxes: list[tuple[float, float, float, float]],
    offsets: list[int],
    node_size: int,
) -> bytes:
    """Packed R-tree, root-first layout with leaves LAST (matching the
    reader's leaf-extraction at the tail of the index block). Parent bboxes
    aggregate their children; per spec a parent's offset field is the BYTE
    OFFSET OF ITS FIRST CHILD NODE within the index block (so a conformant
    tree-traversing / HTTP-range reader can descend), while leaf nodes
    carry byte offsets into the feature section. Features keep file order
    (a conformant reader never requires Hilbert order — the sort is a
    locality optimization)."""
    leaves = [(b, o) for b, o in zip(bboxes, offsets)]
    levels = [leaves]
    while len(levels[-1]) > 1:
        prev = levels[-1]
        parents = []
        for i in range(0, len(prev), node_size):
            grp = prev[i: i + node_size]
            bb = (
                min(g[0][0] for g in grp), min(g[0][1] for g in grp),
                max(g[0][2] for g in grp), max(g[0][3] for g in grp),
            )
            parents.append((bb, 0))
        levels.append(parents)
    ordered = list(reversed(levels))  # root level first, leaves last
    starts = []  # node index of each written level's first node
    acc = 0
    for lv in ordered:
        starts.append(acc)
        acc += len(lv)
    out = b""
    for li, level in enumerate(ordered):
        child_start = starts[li + 1] if li + 1 < len(ordered) else None
        for p, (bb, off) in enumerate(level):
            if child_start is not None:  # interior node → first-child byte off
                off = (child_start + p * node_size) * 40
            out += struct.pack("<4dQ", *bb, off)
    return out


def write_fgb(
    features: list[tuple[str, list, dict]],
    path: str,
    columns: list[str] | None = None,
    index_node_size: int = 0,
) -> str:
    """(geom_type, flattened rings, properties) features → FlatGeobuf,
    optionally with a packed-R-tree index (index_node_size > 0). All
    property values are written as String columns (the normalized feature
    table's map<string,string> contract)."""
    if columns is None:
        columns = []
        for _, _, props in features:
            for k in props or {}:
                if k not in columns:
                    columns.append(k)
    gtypes = {gt for gt, _, _ in features}
    header_gt = GEOM_CODES[gtypes.pop()] if len(gtypes) == 1 else 0

    # ---- header buffer
    hb = _Fwd()
    hb.u32_slot()  # placeholder so table never starts at pos 0
    ht, hoffs = hb.table(
        [
            (2, "u8", header_gt),
            (7, "off", None),            # columns
            (8, "u64", len(features)),
            (9, "u16", index_node_size),  # 0 = no index
        ]
    )
    vpos, slots = hb.vector_offset_slots(len(columns))
    hb.patch_uoffset(hoffs[7], vpos)
    for slot, name in zip(slots, columns):
        ct, coffs = hb.table([(0, "off", None), (1, "u8", COL_STRING)])
        hb.patch_uoffset(coffs[0], hb.string(name))
        hb.patch_uoffset(slot, ct)
    header_bytes = _size_prefixed(hb.buf[4:], ht - 4)

    col_idx = {c: i for i, c in enumerate(columns)}
    feat_bufs, bboxes, offsets = [], [], []
    pos = 0
    for gt, rings, props in features:
        fb = _Fwd()
        fb.u32_slot()
        t, foffs = fb.table([(0, "off", None), (1, "off", None)])
        geom = _build_geometry(fb, gt, rings)
        fb.patch_uoffset(foffs[0], geom)
        pb = bytearray()
        for k, v in (props or {}).items():
            if v is None:
                continue
            raw = str(v).encode("utf-8")
            pb += struct.pack("<HI", col_idx[k], len(raw)) + raw
        fb.patch_uoffset(foffs[1], fb.vector_u8(bytes(pb)))
        buf = _size_prefixed(fb.buf[4:], t - 4)
        feat_bufs.append(buf)
        bboxes.append(_feature_bbox(rings))
        offsets.append(pos)
        pos += len(buf)

    out = bytearray(MAGIC + header_bytes)
    if index_node_size > 0 and features:
        out += _build_index(bboxes, offsets, index_node_size)
    for buf in feat_bufs:
        out += buf
    with open(path, "wb") as f:
        f.write(out)
    return path
