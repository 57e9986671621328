"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with typed metadata structs —
the Spark-side schema, partitioning, UDF signatures and Arrow batch shapes
are real and tested. PNG pixel decode is REAL (decode_png — from-scratch
public-spec: stdlib zlib + the five scanline filters, CRC-verified);
JPEG/GIF entropy decode and audio sample decode need codecs this container
lacks and stay STUBBED behind ``DECODERS`` with a deterministic fake, as
the build brief prescribes. Swapping in a real decoder (PIL/ffmpeg)
changes only the function body, not the plan.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def _fake_decode_image(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real image decode: derives a small
    'pixel' array from the payload digest. Replace with PIL.Image.open
    in production — signature and batch shape stay identical."""
    digest = hashlib.sha256(payload).digest()
    arr = np.frombuffer((digest * 12)[: 8 * 8 * 3], dtype=np.uint8)
    return arr.reshape(8, 8, 3)


def _fake_decode_audio(payload: bytes) -> np.ndarray:
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer((digest * 40)[: 256 * 4], dtype=np.int32)
    return (raw % 32768).astype(np.float32) / 32768.0


# -------------------------------------------------- real PNG pixel codec
# From-scratch, public-spec (RFC 2083 / W3C PNG): stdlib zlib + the five
# scanline filters. 8-bit depth, color types 0 (gray) / 2 (RGB) /
# 4 (gray+alpha) / 6 (RGBA), interlace 0. JPEG/GIF entropy decode needs
# a codec this container lacks and stays brief-prescribed-stubbed.
PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filters=None) -> bytes:
    """Real PNG encoder for fixtures/tests: (h, w) gray, (h, w, 2)
    gray+alpha, (h, w, 3) RGB or (h, w, 4) RGBA uint8 → full
    IHDR+IDAT+IEND with correct CRCs. ``filters`` picks the per-row
    filter type (int, or list per row; default cycles 0..4 so every
    filter path is exercised)."""
    import zlib

    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    if filters is None:
        filters = [y % 5 for y in range(h)]
    elif isinstance(filters, int):
        filters = [filters] * h
    lanes = arr.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur, ft = lanes[y], int(filters[y])
        if ft == 0:
            f = cur
        elif ft == 1:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            f = (cur - left) % 256
        elif ft == 2:
            f = (cur - prev) % 256
        elif ft == 3:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            f = (cur - (left + prev) // 2) % 256
        elif ft == 4:
            f = np.empty(w * ch, dtype=np.int32)
            for i in range(w * ch):
                a = int(cur[i - ch]) if i >= ch else 0
                c = int(prev[i - ch]) if i >= ch else 0
                f[i] = (int(cur[i]) - _paeth(a, int(prev[i]), c)) % 256
        else:
            raise ValueError(f"filter {ft}")
        raw.append(ft)
        raw.extend(f.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Real PNG pixel decode (stdlib zlib + the five public-spec filters)
    → (h, w, channels) uint8. Chunk CRCs are verified; 16-bit depth,
    palette and Adam7 interlace raise ValueError (loud-failure
    convention), as does any structural violation."""
    import zlib

    b = bytes(payload)
    if b[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat, seen_end = 8, None, bytearray(), False
    while pos + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + clen]
        if len(data) != clen or pos + 12 + clen > len(b):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", b[pos + 8 + clen : pos + 12 + clen])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            seen_end = True
            break
        pos += 12 + clen
    if ihdr is None or not seen_end or not idat:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if depth != 8 or color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG depth/color {depth}/{color}")
    if comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported PNG compression/filter/interlace")
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel stream length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=pos + 1
        ).astype(np.int32)
        pos += 1 + stride
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub: prefix sums per byte lane, mod 256
            cur = np.cumsum(line.reshape(w, ch), axis=0, dtype=np.int64) % 256
            cur = cur.reshape(stride).astype(np.int32)
        elif ft == 2:
            cur = (line + prev) % 256
        elif ft == 3:
            cur = line.copy()
            for i in range(stride):
                a = int(cur[i - ch]) if i >= ch else 0
                cur[i] = (cur[i] + (a + int(prev[i])) // 2) % 256
        elif ft == 4:
            cur = line.copy()
            for i in range(stride):
                a = int(cur[i - ch]) if i >= ch else 0
                c = int(prev[i - ch]) if i >= ch else 0
                cur[i] = (cur[i] + _paeth(a, int(prev[i]), c)) % 256
        else:
            raise ValueError(f"PNG filter {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, ch)


def _png_has_idat(b: bytes) -> bool:
    """Walk the PNG chunk list (length/type framing) for a real IDAT
    chunk. A substring search over the whole payload could match 'IDAT'
    inside a header-only stub's deterministic body bytes and crash the
    job in decode_png (round-6 advisory)."""
    # the walk can only return True on a chunk typed IDAT
    if b"IDAT" not in b:
        return False
    pos = 8
    n = len(b)
    while pos + 8 <= n:
        ln = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        if typ == b"IDAT":
            return True
        if typ == b"IEND":
            return False
        pos += 12 + ln  # length + type + data + crc
    return False


def decode_image(payload: bytes) -> np.ndarray:
    """Image decode dispatch: PNGs with a pixel stream decode FOR REAL
    (decode_png — zlib + filters, no media lib needed); JPEG/GIF entropy
    decoding needs codecs this container lacks, so those fall back to
    the deterministic digest fake (brief-prescribed stub). Header-only
    PNG stubs (make_png — no IDAT chunk in the framing walk) also take
    the fake path."""
    b = bytes(payload)
    if b[:8] == PNG_SIG and _png_has_idat(b):
        return decode_png(b)
    return _fake_decode_image(b)


DECODERS = {"image": decode_image, "audio": _fake_decode_audio}


# ---------------------------------------------------- real header parsers
# Public-spec, stdlib-struct parsers — pixel/sample DECODE stays stubbed
# (no media libs in this container; brief-prescribed), but the metadata
# probe is real: PNG IHDR, JPEG SOF marker scan, GIF logical screen, and
# WAV RIFF/fmt/data. Robust to truncation/corruption: any structural
# violation degrades to format='unknown' rather than raising (fuzz-tested).

_SOF_MARKERS = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
     0xCE, 0xCF]
)


def parse_media_meta(b: bytes) -> dict:
    """Best-effort header metadata for one payload. Returns a dict with
    keys format/width/height/sample_rate/channels/bits/n_samples —
    inapplicable fields None; unparseable payloads format='unknown'."""
    out = {
        "format": "unknown", "width": None, "height": None,
        "sample_rate": None, "channels": None, "bits": None,
        "n_samples": None,
    }
    try:
        if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
            # first chunk must be IHDR: length(4) type(4) data(13)
            (clen,) = struct.unpack(">I", b[8:12])
            if b[12:16] == b"IHDR" and clen >= 8:
                w, h = struct.unpack(">II", b[16:24])
                if 0 < w < 1 << 24 and 0 < h < 1 << 24:
                    out.update(format="png", width=int(w), height=int(h))
            return out
        if len(b) >= 4 and b[:2] == b"\xff\xd8":
            # JPEG: walk marker segments to the first SOFn frame header
            i = 2
            while i + 4 <= len(b):
                if b[i] != 0xFF:
                    break
                marker = b[i + 1]
                if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                if marker == 0xD9 or marker == 0xDA:
                    break  # EOI / start-of-scan before any SOF
                (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
                if seglen < 2 or i + 2 + seglen > len(b):
                    break
                if marker in _SOF_MARKERS and seglen >= 7:
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    if w > 0 and h > 0:
                        out.update(
                            format="jpeg", width=int(w), height=int(h)
                        )
                    return out
                i += 2 + seglen
            return out
        if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", b[6:10])
            if w > 0 and h > 0:
                out.update(format="gif", width=int(w), height=int(h))
            return out
        if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            i = 12
            fmt_seen = False
            while i + 8 <= len(b):
                cid = b[i : i + 4]
                (csize,) = struct.unpack("<I", b[i + 4 : i + 8])
                if cid == b"fmt " and csize >= 16 and i + 8 + 16 <= len(b):
                    _tag, ch, rate = struct.unpack("<HHI", b[i + 8 : i + 16])
                    bits = struct.unpack("<H", b[i + 22 : i + 24])[0]
                    if ch > 0 and rate > 0 and bits > 0:
                        out.update(
                            sample_rate=int(rate), channels=int(ch),
                            bits=int(bits),
                        )
                        fmt_seen = True
                elif cid == b"data" and fmt_seen:
                    block = out["channels"] * out["bits"] // 8
                    if block > 0:
                        out.update(
                            format="wav", n_samples=int(csize // block)
                        )
                    return out
                i += 8 + csize + (csize & 1)  # chunks are word-aligned
            return out
    except (struct.error, TypeError, ValueError):
        return out
    return out


MEDIA_META_SCHEMA = StructType(
    [
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


@F.pandas_udf(MEDIA_META_SCHEMA)
def media_meta(payload: pd.Series) -> pd.DataFrame:
    """Header-only metadata probe (no pixel/sample decode): real PNG /
    JPEG / GIF / WAV header parsing per Arrow batch."""
    rows = []
    for b in payload:
        m = parse_media_meta(bytes(b) if b is not None else b"")
        m["n_bytes"] = len(b) if b is not None else 0
        rows.append(m)
    return pd.DataFrame(rows)


@F.pandas_udf(IMAGE_META_SCHEMA)
def image_meta(payload: pd.Series) -> pd.DataFrame:
    """Image-only metadata probe: REAL header parsing (PNG IHDR / JPEG
    SOF / GIF screen descriptor) — the former deterministic fake is gone;
    non-image payloads report format='unknown' with NULL dims."""
    widths, heights, fmts, sizes = [], [], [], []
    for b in payload:
        m = parse_media_meta(bytes(b) if b is not None else b"")
        widths.append(m["width"])
        heights.append(m["height"])
        fmts.append(m["format"])
        sizes.append(len(b) if b is not None else 0)
    return pd.DataFrame(
        {"width": widths, "height": heights, "format": fmts, "n_bytes": sizes}
    )


# ------------------------------------------------- deterministic builders
def make_png_real(w: int, h: int, seed: int = 0) -> bytes:
    """Fully decodable RGB PNG with SQL-replayable deterministic pixels
    v(x, y, c) = (3x + 7y + 11c + seed) % 256 and per-row filters
    cycling 0..4 (so a decode exercises every filter path). The
    q_image_decode oracle replays the formula with BIGINT ops."""
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    arr = ((x * 3 + y * 7 + c * 11 + seed) % 256).astype(np.uint8)
    return encode_png(arr)


def make_png(w: int, h: int, seed: int = 0) -> bytes:
    """Structurally valid PNG prefix (signature + IHDR) + deterministic
    body bytes (the pixel stream is not decoded by this engine)."""
    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    body = hashlib.sha256(struct.pack("<qqq", w, h, seed)).digest() * 3
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
        + body
    )


def make_jpeg(w: int, h: int, seed: int = 0) -> bytes:
    """Minimal JPEG: SOI + APP0(JFIF) + SOF0 carrying the dimensions +
    deterministic tail + EOI."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11)
        + bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    )
    body = hashlib.sha256(struct.pack("<qqq", w, h, seed)).digest()
    return b"\xff\xd8" + app0 + sof0 + body + b"\xff\xd9"


def make_wav(rate: int, channels: int, bits: int, n_samples: int) -> bytes:
    """Fully valid PCM WAV container with deterministic sample bytes."""
    block = channels * bits // 8
    data_size = n_samples * block
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    data = (
        hashlib.sha256(struct.pack("<qqq", rate, channels, n_samples)).digest()
        * (data_size // 32 + 1)
    )[:data_size]
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_size) + data
    )


_FEATURE_SCHEMA = ArrayType(FloatType())


@F.pandas_udf(_FEATURE_SCHEMA)
def image_features(payload: pd.Series) -> pd.Series:
    """Decode → feature-extract (mean-pool per channel + intensity
    histogram), vectorized per Arrow batch. The decode call is the stub."""
    out = []
    for b in payload:
        img = DECODERS["image"](b)
        means = img.reshape(-1, 3).mean(axis=0) / 255.0
        hist, _ = np.histogram(img, bins=8, range=(0, 255))
        feat = np.concatenate([means, hist / hist.sum()]).astype(np.float32)
        out.append(feat.tolist())
    return pd.Series(out)


def frame_sample(video_df: DataFrame, payload_col: str = "payload",
                 every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame index with a
    binary frame payload (sliced deterministically from the source payload
    — a real implementation seeks the container instead)."""
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, b in zip(pdf["media_id"], pdf[payload_col]):
                n_frames = max(1, len(b) // 64)
                for fi in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(bytes(b[fi * 64 : (fi + 1) * 64]))
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return video_df.mapInPandas(kernel, schema=schema)


def media_dims(i: int) -> tuple[int, int]:
    """Deterministic image dimensions for media id `i` — the arithmetic
    the DuckDB oracle replays (q_multimodal_meta)."""
    return 64 + (i * 37) % 512, 64 + (i * 59) % 512


WAV_RATES = (8000, 16000, 22050, 44100)


def media_wav_params(i: int) -> tuple[int, int, int, int]:
    """(rate, channels, bits, n_samples) for media id `i`."""
    return WAV_RATES[i % 4], 1 + (i % 2), 16, 100 + (i * 13) % 4000


def build_payload(i: int, kind: str) -> bytes:
    """Deterministic REAL media container for id `i`: kind 'image'
    alternates PNG/JPEG; 'audio' is WAV; 'mixed' cycles all three."""
    if kind == "mixed":
        sub = ("png", "jpeg", "wav")[i % 3]
    elif kind == "image":
        sub = ("png", "jpeg")[i % 2]
    else:
        sub = "wav"
    if sub == "wav":
        rate, ch, bits, ns = media_wav_params(i)
        return make_wav(rate, ch, bits, ns)
    w, h = media_dims(i)
    return make_png(w, h, i) if sub == "png" else make_jpeg(w, h, i)


def synthetic_media(spark, n: int, kind: str = "image") -> DataFrame:
    """Deterministic binary payloads with REAL container headers (PNG /
    JPEG / WAV) for tests, benchmarks, and the q_multimodal_meta oracle."""
    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            payloads = [build_payload(int(i), kind) for i in ids]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return spark.range(n).mapInPandas(
        gen, schema="media_id bigint, payload binary"
    )
