"""Hypothesis property tests for the round-2 codecs/grids — pure numpy
(no SparkSession), so they randomize structure cheaply:

  - WKB: arbitrary polygons/multipolygons round-trip bit-exactly
  - WKT: full-precision round-trip incl. exponent-notation coordinates
  - hex grid: point→cell containment + ring/parent invariants hold for
    arbitrary coordinates and resolutions
  - rolling fingerprint: vectorized kernel == naive definition for
    arbitrary unicode text
  - UTM: round-trip for arbitrary in-zone coordinates
  - batch geo extraction: the fused kernel's per-batch coordinate pass
    equals the per-document extract_text → extract_geo_entities chain
"""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from giga_spatial_spark import cells_hex as H
from giga_spatial_spark.functions import wkb
from giga_spatial_spark.functions.hashing import rolling_fingerprint
from giga_spatial_spark.functions.utm import utm_forward, utm_inverse, utm_zone
from giga_spatial_spark.functions.wkt import (
    multipolygon_wkt,
    parse_multipolygon,
    parse_point,
    point_wkt,
)

coord = st.floats(
    min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False
)


def ring_strategy(min_pts=3, max_pts=8):
    return st.lists(st.tuples(coord, coord), min_size=min_pts, max_size=max_pts).map(
        lambda pts: np.asarray(pts, dtype=np.float64)
    )


@settings(max_examples=60, deadline=None)
@given(ring_strategy())
def test_wkb_polygon_roundtrip(ring):
    t, rings = wkb.parse_wkb(wkb.dump_polygon(ring))
    assert t == "Polygon"
    # dump appends exactly one closing vertex and parse strips exactly one,
    # so the roundtrip is the identity even for degenerate open rings that
    # happen to start and end on the same point
    assert np.array_equal(rings[0], ring)


@settings(max_examples=40, deadline=None)
@given(st.lists(ring_strategy(), min_size=1, max_size=3))
def test_wkb_multipolygon_roundtrip(rings):
    t, polys = wkb.parse_wkb(wkb.dump_multipolygon([[r] for r in rings]))
    assert t == "MultiPolygon" and len(polys) == len(rings)


@settings(max_examples=60, deadline=None)
@given(
    st.floats(min_value=-180, max_value=180, allow_nan=False),
    st.floats(min_value=-90, max_value=90, allow_nan=False),
)
def test_wkt_point_full_precision_roundtrip(lon, lat):
    p = parse_point(point_wkt(lon, lat))
    assert p is not None and p[0] == lon and p[1] == lat


@settings(max_examples=30, deadline=None)
@given(st.lists(ring_strategy(3, 6), min_size=1, max_size=2))
def test_wkt_multipolygon_roundtrip(rings):
    # rings with duplicate first/last vertex get normalized by the parser;
    # restrict to open rings (generated rings rarely close, but guard)
    rings = [r for r in rings if not (r[0] == r[-1]).all()]
    if not rings:
        return
    polys = parse_multipolygon(multipolygon_wkt([[r] for r in rings]))
    assert polys is not None and len(polys) == len(rings)
    for got, want in zip(polys, rings):
        assert np.array_equal(got[0], want)


@settings(max_examples=60, deadline=None)
@given(
    st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
    st.floats(min_value=-84.0, max_value=84.0, allow_nan=False),
    st.integers(min_value=0, max_value=12),
)
def test_hex_invariants(lon, lat, res):
    cid = int(H.cell_id(np.array([lon]), np.array([lat]), res)[0])
    # center round-trips to the same cell
    clon, clat = H.cell_center(np.array([cid]))
    assert int(H.cell_id(clon, clat, res)[0]) == cid
    # the point is within the cell's circumradius of the center (plane metric)
    assert np.hypot(lon - clon[0], lat - clat[0]) <= H.hex_size(res) * 1.16
    # parent at res-1 contains the center
    if res > 0:
        par = int(H.parent(np.array([cid]), res - 1)[0])
        assert int(H.cell_id(clon, clat, res - 1)[0]) == par


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=200))
def test_fingerprint_matches_naive(text):
    def naive(t, window=16, mod=(1 << 61) - 1, base=257):
        data = t.encode()
        n = len(data)
        if n == 0:
            return 0
        if n <= window:
            h = 0
            for b in data:
                h = (h * base + b) % mod
            return h
        best = None
        for i in range(n - window + 1):
            h = 0
            for b in data[i : i + window]:
                h = (h * base + b) % mod
            best = h if best is None else min(best, h)
        return best

    assert rolling_fingerprint(text) == naive(text)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(), max_size=300))
def test_extract_tail_fast_equals_exact(s):
    """The guarded fast tail must reproduce the frozen regex tail for EVERY
    string — the exotic-whitespace guard routes disagreement cases to the
    exact path, so extract_text stays byte-identical universally."""
    from giga_spatial_spark.functions.text import (
        _RE_EXOTIC_WS,
        _tail_exact,
        _tail_fast,
    )

    got = _tail_exact(s) if _RE_EXOTIC_WS.search(s) else _tail_fast(s)
    assert got == _tail_exact(s)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_extract_text_stable_under_optimization(raw):
    """Full extract_text over arbitrary bytes equals the frozen reference
    pipeline executed step by step."""
    import html as _htmllib
    import re
    import unicodedata

    from giga_spatial_spark.functions import text as T

    def reference(raw):
        s = raw.decode("utf-8", errors="replace")
        s = T._RE_SCRIPT.sub(" ", s)
        s = T._RE_COMMENT.sub(" ", s)
        s = T._RE_BLOCK.sub("\n", s)
        s = T._RE_TAG.sub(" ", s)
        s = _htmllib.unescape(s)
        s = unicodedata.normalize("NFKC", s)
        s = T._RE_WS.sub(" ", s)
        s = T._RE_NL.sub("\n", s)
        s = "\n".join(line.strip() for line in s.split("\n"))
        return s.strip()

    assert T.extract_text_py(raw) == reference(raw)


# fragments that stress the html→coordinates path: exotic whitespace,
# non-ASCII digits and parentheses (NFKC folds the fullwidth ones, not the
# Arabic-Indic), entity-encoded punctuation, block tags between the comma
# and the longitude, unclosed script/comment/tag openers and NUL bytes
_GEO_FRAGMENTS = st.sampled_from([
    "(", ")", ",", ", ", ".", "-", "12", "3.5", "-45.25", "181", "95.5",
    " ", "\n", "\t", "\r\n", "\x1c", "\x85", "\xa0", "\u2003", "\u2028",
    "\u3000", "\x00", "\u0661\u0662", "\u0663.\u0664", "\uff11\uff12",
    "\uff08", "\uff09", "\uff0c", "&#40;", "&#41;", "&#x28;", "&lpar;",
    "&comma;", "&#44;", "&nbsp;", "&amp;", "<br>", "<br/>", "</p>", "<p>",
    "</div>", "<b>", '<a title="(1.5, 2.5)">', "<script", "</script>",
    "<style>", "<!--", "-->", "<", ">", "word",
])
_GEO_PAIR = st.builds(
    "({}{},{}{})".format,
    st.sampled_from(["", "-"]),
    st.sampled_from(["0", "7.25", "45", "89.9999", "90", "99", "\u0665"]),
    st.sampled_from(["", " ", "\n", "<br>", "</p>\n<p>", "&#32;", "\xa0"]),
    st.sampled_from(["0", "-0.5", "120.125", "180", "-180.0", "181", "1234"]),
)
_GEO_DOC = st.lists(
    st.one_of(_GEO_FRAGMENTS, _GEO_PAIR, st.text(max_size=8)), max_size=30
).map(lambda parts: "".join(parts).encode("utf-8"))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_GEO_DOC, st.binary(max_size=60)), max_size=8))
@example([b"see (12,", b" 34) after"])
@example([b"(12,\x00 34)", "（１２，\u3000３４）".encode()])
def test_geo_points_batch_equals_per_doc_chain(docs):
    """The batch extractor skips the whitespace tail and scans the batch in
    one regex pass; its float64 (lat, lon) must be bit-identical, in the
    same order, to the per-document chain the modular pipeline runs."""
    from giga_spatial_spark.functions.text import (
        extract_geo_entities_py,
        extract_text_py,
        geo_points_batch,
    )

    want = [p for d in docs for p in extract_geo_entities_py(extract_text_py(d))]
    want_lat = np.array([p[0] for p in want], dtype=np.float64)
    want_lon = np.array([p[1] for p in want], dtype=np.float64)
    lat, lon = geo_points_batch(docs)
    assert lat.dtype == np.float64 and lon.dtype == np.float64
    assert lat.view(np.uint64).tolist() == want_lat.view(np.uint64).tolist()
    assert lon.view(np.uint64).tolist() == want_lon.view(np.uint64).tolist()


@settings(max_examples=60, deadline=None)
@given(
    st.floats(min_value=-179.99, max_value=179.99, allow_nan=False),
    st.floats(min_value=-84, max_value=84, allow_nan=False),
)
def test_utm_roundtrip(lon, lat):
    z = utm_zone(lon)
    e, n = utm_forward(np.array([lon]), np.array([lat]), z)
    lo, la = utm_inverse(e, n, z, south=np.array([lat < 0]))
    assert abs(lo[0] - lon) < 1e-8 and abs(la[0] - lat) < 1e-8
