"""KML / KMZ reader — stdlib ElementTree + zipfile.

The reference routes .kml through geopandas' KML driver and .kmz through
read_kmz (core/io/readers.py:34-86: first ``*.kml`` member of the zip);
neither GDAL nor fastkml exists here, so the Placemark subset the
reference's flows consume is parsed directly: Point / LineString /
Polygon (outer + inner boundaries) / MultiGeometry, plus name,
description and ExtendedData attributes.

Parsing runs DISTRIBUTED per file (wholetext / binaryFile → mapInPandas),
the same pattern as read_geojson — a single huge KML is one task, many
files parallelize; KML is a dim-layer interchange format, not a fact
format, so that is the right trade.

Output matches read_geojson: feature_id (placemark position), geom_type,
rings (flattened open rings), properties (map<string,string> — name,
description, ExtendedData Data/SimpleData entries).
"""

from __future__ import annotations

import io
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from ..winding import wind_member
from .readers import FEATURE_SCHEMA


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _coords_text(el) -> list[list[float]]:
    """<coordinates> text → [[lon, lat], ...] (altitude dropped)."""
    out = []
    for tok in (el.text or "").split():
        parts = tok.split(",")
        if len(parts) >= 2:
            out.append([float(parts[0]), float(parts[1])])
    return out


def _open_ring(vs: list[list[float]]) -> list[list[float]]:
    if len(vs) >= 2 and vs[0] == vs[-1]:
        return vs[:-1]
    return vs


def _parse_geometry(el) -> tuple[str | None, list | None]:
    """A geometry element → (geom_type, flattened rings)."""
    tag = _local(el.tag)
    if tag == "Point":
        for c in el.iter():
            if _local(c.tag) == "coordinates":
                pts = _coords_text(c)
                return ("Point", [pts[:1]]) if pts else (None, None)
        return None, None
    if tag == "LineString":
        for c in el.iter():
            if _local(c.tag) == "coordinates":
                return "LineString", [_coords_text(c)]
        return None, None
    if tag == "Polygon":
        rings = []
        for bound in el:
            btag = _local(bound.tag)
            if btag not in ("outerBoundaryIs", "innerBoundaryIs"):
                continue
            for c in bound.iter():
                if _local(c.tag) == "coordinates":
                    # outer boundary first: KML order already guarantees it
                    rings.insert(0, c) if btag == "outerBoundaryIs" else rings.append(c)
        # normalize winding while outer/inner roles are explicit (KML tags
        # carry no orientation guarantee)
        parsed = wind_member([_open_ring(_coords_text(c)) for c in rings])
        return ("Polygon", parsed) if parsed else (None, None)
    if tag == "MultiGeometry":
        types, rings = [], []
        for child in el:
            gt, rs = _parse_geometry(child)
            if gt is not None:
                types.append(gt)
                rings.extend(rs)
        if not types:
            return None, None
        if all(t == "Polygon" for t in types):
            gt = "MultiPolygon" if len(types) > 1 else "Polygon"
        elif all(t == "Point" for t in types):
            return "MultiPoint", [[r[0] for r in rings]]
        elif all(t == "LineString" for t in types):
            gt = "MultiLineString" if len(types) > 1 else "LineString"
        else:
            gt = "GeometryCollection"
        return gt, rings
    return None, None


def parse_kml_features(text: str) -> list[dict]:
    """KML document string → list of normalized feature dicts."""
    root = ET.fromstring(text)
    feats = []
    for pm in root.iter():
        if _local(pm.tag) != "Placemark":
            continue
        props: dict[str, str | None] = {}
        gt, rings = None, None
        for child in pm:
            tag = _local(child.tag)
            if tag in ("name", "description", "address", "phoneNumber"):
                props[tag] = (child.text or "").strip() or None
            elif tag == "ExtendedData":
                for d in child.iter():
                    dtag = _local(d.tag)
                    if dtag == "Data":
                        val = next(
                            (v.text for v in d if _local(v.tag) == "value"), None
                        )
                        props[d.get("name", "")] = (
                            (val or "").strip() or None
                        )
                    elif dtag == "SimpleData":
                        props[d.get("name", "")] = (d.text or "").strip() or None
            elif tag in ("Point", "LineString", "Polygon", "MultiGeometry"):
                gt, rings = _parse_geometry(child)
        feats.append(
            {
                "feature_id": len(feats),
                "geom_type": gt,
                "rings": rings,
                "properties": props,
            }
        )
    return feats


def read_kml(spark: SparkSession, path: str) -> DataFrame:
    import pandas as pd

    raw = spark.read.text(path, wholetext=True)

    def kernel(batches):
        for pdf in batches:
            for doc in pdf["value"]:
                yield pd.DataFrame(
                    parse_kml_features(doc), columns=FEATURE_SCHEMA.names
                )

    return raw.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def read_kmz(spark: SparkSession, path: str) -> DataFrame:
    """KMZ = zip; the first *.kml member is the document (reference
    read_kmz, readers.py:34-86)."""
    import pandas as pd

    raw = spark.read.format("binaryFile").load(path)

    def kernel(batches):
        for pdf in batches:
            for content in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(content)) as z:
                    name = next(
                        (n for n in z.namelist() if n.endswith(".kml")), None
                    )
                    if name is None:
                        raise ValueError("No KML file found in the KMZ archive.")
                    text = z.read(name).decode("utf-8", "replace")
                yield pd.DataFrame(
                    parse_kml_features(text), columns=FEATURE_SCHEMA.names
                )

    return raw.select("content").mapInPandas(kernel, schema=FEATURE_SCHEMA)
