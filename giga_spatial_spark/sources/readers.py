"""Format-dispatch readers — reference read_dataset
(gigaspatial/core/io/readers.py:208-407): extension-sniffed dispatch over
CSV/JSON/NDJSON/Parquet (+gzip), geo formats normalized to parquet-with-WKT
at ingest. The DataStore abstraction (core/io/data_store.py) collapses into
spark.read, as SURVEY.md §1 planned."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, MapType, StringType, StructField,
    StructType,
)

from ..winding import wind_member

# the normalized feature table every vector reader returns
FEATURE_SCHEMA = StructType(
    [
        StructField("feature_id", LongType()),
        StructField("geom_type", StringType()),
        StructField("rings", ArrayType(ArrayType(ArrayType(DoubleType())))),
        StructField("properties", MapType(StringType(), StringType())),
    ]
)


def read_dataset(spark: SparkSession, path: str, **options) -> DataFrame:
    """Dispatch on extension (compression sniffed by Spark natively)."""
    name = path.lower()
    for gz in (".gz", ".bz2", ".xz"):
        if name.endswith(gz):
            name = name[: -len(gz)]
            break
    if name.endswith(".xlsx"):
        from .xlsx import read_xlsx

        return read_xlsx(spark, path, **options)
    if name.endswith(".shp"):
        from .shapefile import read_shapefile

        return read_shapefile(spark, path)
    if name.endswith(".gpkg"):
        from .gpkg import read_gpkg

        return read_gpkg(spark, path, **options)
    if name.endswith(".kml"):
        from .kml import read_kml

        return read_kml(spark, path)
    if name.endswith(".kmz"):
        from .kml import read_kmz

        return read_kmz(spark, path)
    if name.endswith(".fgb"):
        from .fgb import read_fgb

        return read_fgb(spark, path)
    if name.endswith(".zip"):
        return read_zipped_shapefile(spark, path)
    if name.endswith(".geojsonl") or name.endswith(".geojsonseq"):
        return read_geojsonl(spark, path)
    if name.endswith(".geojson"):
        return read_geojson(spark, path)
    if name.endswith(".geoparquet"):
        return read_geoparquet(spark, path, **options)
    if name.endswith(".parquet") or name.endswith(".pq"):
        return spark.read.parquet(path)
    if name.endswith(".csv") or name.endswith(".tsv"):
        sep = "\t" if name.endswith(".tsv") else ","
        return spark.read.options(header=True, inferSchema=True, sep=sep, **options).csv(path)
    if name.endswith(".ndjson") or name.endswith(".jsonl"):
        return spark.read.options(**options).json(path)
    if name.endswith(".json"):
        return spark.read.options(multiLine=True, **options).json(path)
    raise ValueError(f"unsupported dataset format: {path}")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet without the schema-inference job. For a local
    single file the schema comes from its footer (pyarrow, well under a
    millisecond) and is handed to the reader, which then fires no job at
    construction; `prefer_timestamp_ntz` maps zone-less timestamps to
    TIMESTAMP_NTZ, as Spark's own inference does. Directories and non-local
    paths keep Spark's inference."""
    local = path.removeprefix("file:")
    if "://" in local or not os.path.isfile(local):
        return spark.read.parquet(path)
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_schema

    with pq.ParquetFile(local) as pf:
        footer, arrow_schema = pf.schema, pf.schema_arrow
    # INT96 timestamps read as zone-less in Arrow but as TIMESTAMP in Spark
    if any(footer.column(i).physical_type == "INT96" for i in range(len(footer))):
        return spark.read.parquet(path)
    try:
        schema = from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)
    except PySparkTypeError:  # e.g. unsigned ints, which Spark widens
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def read_zipped_shapefile(spark: SparkSession, path: str) -> DataFrame:
    """.zip → shapefile reader (reference GEO_READERS['.zip'] routes zip
    archives to gpd.read_file, which handles zipped shapefiles). The
    archive is extracted once to a content-addressed temp dir (zip is not
    a seekable container for the byte-range executor reads the .shp codec
    does), then read normally — sidecars (.shx/.dbf/.prj/.cpg) included."""
    import getpass
    import hashlib
    import zipfile

    from .shapefile import read_shapefile

    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    digest = h.hexdigest()[:16]
    root = f"/tmp/spark_graft_zipshp_{getpass.getuser()}"
    dest = os.path.join(root, digest)
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
        shp_name = next((n for n in names if n.lower().endswith(".shp")), None)
        if shp_name is None:
            raise ValueError(f"no .shp member in {path}")
        base = shp_name[:-4].lower()
        members = [
            n
            for n in names
            if os.path.splitext(n)[0].lower() == base and not n.endswith("/")
        ]
        # atomic: extract every sidecar into a tmp dir, then os.replace into
        # the content-addressed path — a crash mid-extract can never leave a
        # partial dir that passes the existence check with .dbf/.shx missing
        if not all(os.path.exists(os.path.join(dest, n)) for n in members):
            import shutil

            os.makedirs(root, exist_ok=True)
            tmp = f"{dest}.tmp.{os.getpid()}"
            os.makedirs(tmp, exist_ok=True)
            for n in members:
                z.extract(n, tmp)
            # re-check completeness RIGHT before removing dest: a concurrent
            # extractor of the same digest may have completed dest since the
            # first check, and a third process could already be reading it —
            # never delete a dir that is complete now (its content is
            # identical to ours by construction of the content-addressed key)
            if not all(
                os.path.exists(os.path.join(dest, n)) for n in members
            ):
                shutil.rmtree(dest, ignore_errors=True)  # stale partial only
            try:
                os.replace(tmp, dest)
            except OSError:
                # lost a race to a concurrent extractor of the same digest;
                # its (complete, content-identical) dir wins
                shutil.rmtree(tmp, ignore_errors=True)
    return read_shapefile(spark, os.path.join(dest, shp_name))


def geojson_rings(geom) -> list | None:
    """GeoJSON geometry dict → the engine's flattened open-ring convention
    (shared by read_geojson / read_geojsonl)."""
    if geom is None:
        return None
    t, c = geom.get("type"), geom.get("coordinates")
    if t == "Point":
        return [[[float(c[0]), float(c[1])]]]
    if t in ("LineString", "MultiPoint"):
        return [[[float(x), float(y)] for x, y, *_ in c]]
    if t in ("Polygon", "MultiLineString"):
        out = []
        for ring in c:
            vs = [[float(x), float(y)] for x, y, *_ in ring]
            if t == "Polygon" and len(vs) >= 2 and vs[0] == vs[-1]:
                vs = vs[:-1]
            out.append(vs)
        # RFC 7946 winding is widely violated in the wild; normalize while
        # the outer/hole roles are still explicit (ring order)
        return wind_member(out) if t == "Polygon" else out
    if t == "MultiPolygon":
        out = []
        for poly in c:
            member = []
            for ring in poly:
                vs = [[float(x), float(y)] for x, y, *_ in ring]
                if len(vs) >= 2 and vs[0] == vs[-1]:
                    vs = vs[:-1]
                member.append(vs)
            out.extend(wind_member(member))
        return out
    return None


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection → normalized feature table (reference
    readers.py:122-175 routes these through geopandas; here the stdlib json
    parse runs distributed per file inside mapInPandas).

    Output schema: feature_id (position in file), geom_type, rings
    (array<array<array<double>>> — Points become one one-vertex ring,
    Polygon rings drop their closing vertex, MultiPolygon flattens member
    rings), properties (map<string,string>)."""
    import json as _json

    import pandas as pd

    raw = spark.read.text(path, wholetext=True)

    def kernel(batches):
        for pdf in batches:
            for doc in pdf["value"]:
                fc = _json.loads(doc)
                feats = fc["features"] if fc.get("type") == "FeatureCollection" else [fc]
                rows = {
                    "feature_id": list(range(len(feats))),
                    "geom_type": [
                        (f.get("geometry") or {}).get("type") for f in feats
                    ],
                    "rings": [geojson_rings(f.get("geometry")) for f in feats],
                    "properties": [
                        {str(k): (None if v is None else str(v))
                         for k, v in (f.get("properties") or {}).items()}
                        for f in feats
                    ],
                }
                yield pd.DataFrame(rows)

    return raw.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def read_geojsonl(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited GeoJSON (one Feature per line — the reference's
    .geojsonl/.ndjson geo branch, GEO_READERS): fully distributed, each
    partition parses its own lines; feature_id is the per-file line number
    so write_geojsonl → read_geojsonl round-trips ids."""
    import json as _json

    import pandas as pd


    def kernel(batches):
        for pdf in batches:
            rows = {"feature_id": [], "geom_type": [], "rings": [], "properties": []}
            for line in pdf["value"]:
                line = line.strip()
                if not line:
                    continue
                f = _json.loads(line)
                geom = f.get("geometry")
                rows["feature_id"].append(f.get("id"))
                rows["geom_type"].append((geom or {}).get("type"))
                rows["rings"].append(geojson_rings(geom))
                rows["properties"].append(
                    {
                        str(k): (None if v is None else str(v))
                        for k, v in (f.get("properties") or {}).items()
                    }
                )
            yield pd.DataFrame(rows)

    return spark.read.text(path).mapInPandas(kernel, schema=FEATURE_SCHEMA)


def read_geoparquet(
    spark: SparkSession, path: str, geometry_col: str = "geometry", **options
) -> DataFrame:
    """GeoParquet-style ingest: plain parquet scan + WKB decode of the
    geometry column into a rings column (reference readers.py:read_gdf
    parquet branch). Column pruning/predicate pushdown stay intact — only
    the binary column passes through the Arrow UDF."""
    from ..functions.wkb import with_parsed_rings

    df = spark.read.options(**options).parquet(path)
    return with_parsed_rings(df, geometry_col, "rings")


def read_datasets(spark: SparkSession, paths: list[str], **options) -> DataFrame:
    """Multi-path read with error accumulation (reference readers.py:441-471):
    unions per-path frames; raises with the full error list if any fail."""
    frames, errors = [], []
    for p in paths:
        try:
            frames.append(read_dataset(spark, p, **options))
        except Exception as e:  # noqa: BLE001 — accumulate like the reference
            errors.append((p, str(e)))
    if errors:
        raise ValueError(f"failed to read {len(errors)} dataset(s): {errors}")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def write_dataset(df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite") -> str:
    """Dispatch-write (reference writers.py:31-133 — GEO_WRITERS adds
    geojson/gpkg/geoparquet next to the tabular formats)."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        fmt = {"pq": "parquet"}.get(ext, ext or "parquet")
    if fmt == "xlsx":
        from .xlsx import write_xlsx

        return write_xlsx(df, path)
    if fmt == "shp":
        raise ValueError("shapefile writing: use sources.shapefile.write_shapefile")
    if fmt == "geojson":
        from .geo_writers import write_geojson

        return write_geojson(df, path)
    if fmt in ("geojsonl", "geojsonseq"):
        from .geo_writers import write_geojsonl

        return write_geojsonl(df, path)
    if fmt == "gpkg":
        from .gpkg import write_gpkg

        return write_gpkg(df, path)
    if fmt == "geoparquet":
        from .geo_writers import write_geoparquet

        return write_geoparquet(df, path, mode=mode)
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(path)
    return path
