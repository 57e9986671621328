"""Pluggable EntityProcessor: 12-step pipeline as one plan + registry."""

import pytest
from pyspark.sql import functions as F

from giga_spatial_spark.processor import EntityProcessor, EntityProcessorConfig


@EntityProcessor.register("school")
class SchoolProcessor(EntityProcessor):
    config = EntityProcessorConfig(
        rename_map={"School_Name": "name", "GPS": "gps"},
        nfkc_columns=["name"],
        string_columns=["name", "status"],
        merged_coord_column="gps",
        numeric_columns=["enrollment"],
        enum_aliases={"status": {"op": "open", "cl": "closed"}},
        titlecase_columns=["admin1"],
        validate_coordinates=True,
        id_source_columns=["name", "admin1"],
        drop_all_null_subset=["name", "status"],
        dedup_columns=["entity_id"],
    )


def test_full_pipeline(spark):
    df = spark.createDataFrame(
        [
            ("  Ｓｔ．Ｍａｒｙ ", "OP", "12.5, -1.25", "40", " nairobi west "),
            ("  Ｓｔ．Ｍａｒｙ ", "OP", "12.5, -1.25", "40", " nairobi west "),  # dup
            ("Hill School", "CL", "bogus", "n/a", "UNKNOWN"),
            ("NA", "NA", None, None, None),  # all-null after cleaning
        ],
        "School_Name string, STATUS string, GPS string, enrollment string, admin1 string",
    )
    proc = EntityProcessor.for_entity("school")
    out = proc(df).collect()
    rows = {r["name"]: r for r in out}
    assert len(out) == 2  # dup collapsed, all-null dropped
    mary = rows["st.mary"]  # NFKC folds fullwidth, clean lowers
    assert mary["status"] == "open"
    assert mary["latitude"] == 12.5 and mary["longitude"] == -1.25
    assert mary["enrollment"] == 40.0
    assert mary["admin1"] == "Nairobi West"
    assert mary["coord_status"] == "ok"
    assert len(mary["entity_id"]) == 36
    hill = rows["hill school"]
    assert hill["status"] == "closed"
    assert hill["enrollment"] is None  # try_cast of a cleaned-to-null value
    assert hill["admin1"] is None  # unknown sentinel
    assert hill["coord_status"] == "missing"


def test_registry_and_hooks(spark):
    with pytest.raises(KeyError, match="no EntityProcessor registered"):
        EntityProcessor.for_entity("nope")

    @EntityProcessor.register("tagged")
    class Tagged(EntityProcessor):
        config = EntityProcessorConfig(string_columns=["v"])

        def post_process(self, df):
            return df.withColumn("tag", F.lit("x"))

    df = spark.createDataFrame([(" A ",)], "v string")
    out = EntityProcessor.for_entity("tagged")(df).collect()[0]
    assert out["v"] == "a" and out["tag"] == "x"


def test_entity_table_from_file_flow(spark, tmp_path):
    """read -> registered processor -> validate, the EntityTable.from_file
    lifecycle (SURVEY §3.3)."""
    from giga_spatial_spark.entity import standard_point_constraints
    from giga_spatial_spark.processor import entity_table_from_file

    @EntityProcessor.register("site")
    class SiteProcessor(EntityProcessor):
        config = EntityProcessorConfig(
            string_columns=["name"],
            merged_coord_column="gps",
            id_source_columns=["name"],
        )

    src = spark.createDataFrame(
        [("Tower A", "12.5, -1.25"), ("Tower B", "99.0, 500.0"), ("Tower C", None)],
        "name string, gps string",
    )
    path = str(tmp_path / "sites.parquet")
    src.write.mode("overwrite").parquet(path)
    valid, quarantine = entity_table_from_file(
        spark, path, "site",
        constraints=standard_point_constraints("latitude", "longitude"),
    )
    v = {r["name"] for r in valid.collect()}
    q = {r["name"]: r["violations"] for r in quarantine.collect()}
    assert v == {"tower a"}
    assert {"lat_range", "lon_range"} <= set(q["tower b"])
    assert "coords_present" in q["tower c"]


def test_hex_view_generator(spark):
    """HexViewGenerator (H3ViewGenerator role): polyfilled cells as the zone
    dim, per-cell point counts with 0-fill and raster means."""
    from giga_spatial_spark import cells_h3, synth
    from giga_spatial_spark.operators.raster import RasterMeta, synthetic_raster
    from giga_spatial_spark.views import HexViewGenerator

    poly = synth.make_admin_polygons()[1]
    gen = HexViewGenerator(spark, poly, resolution=3)
    assert gen.zones_dim.count() == len(gen.cells) > 0

    docs = synth.with_coords(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id"
    )
    pixels = synthetic_raster(spark, RasterMeta(width=180, height=80))
    view = (
        gen.map_points(docs).map_rasters(pixels, stats=("count", "mean"))
        .to_dataframe()
        .toPandas()
    )
    assert (view["point_count"] >= 0).all()  # 0-filled, never NULL
    assert view["point_count"].notna().all()
    # cross-check one cell's count against a direct filter
    import numpy as np

    # column-first indexing: a row Series would coerce the int64 cell id to
    # float64 and lose precision (hex ids exceed 2^53)
    cell = int(view.sort_values("point_count")["h3_cell"].iloc[-1])
    lon = docs.toPandas()["lon"].to_numpy()
    lat = docs.toPandas()["lat"].to_numpy()
    ids = cells_h3.latlng_to_cell(lat, lon, 3)
    assert int(view.set_index("h3_cell").loc[cell, "point_count"]) == int(
        (ids == cell).sum()
    )


def test_determinism_of_ids(spark):
    df = spark.createDataFrame([("a", "b")], "name string, admin1 string")
    cfg = EntityProcessorConfig(id_source_columns=["name", "admin1"])

    class P(EntityProcessor):
        config = cfg

    id1 = P()(df).collect()[0]["entity_id"]
    id2 = P()(df).collect()[0]["entity_id"]
    assert id1 == id2


@pytest.mark.parametrize("delim", ["|", "."])
def test_collection_delimiter_is_literal(spark, delim):
    """A collection column splits on its delimiter as a literal string on
    Spark, as DuckDB's string_split does in the oracle builder: a regex
    split would treat '|' as an empty alternation and '.' as any char."""
    import duckdb
    import pandas as pd

    from giga_spatial_spark.operators.normalize import normalize_enum_collection_sql

    aliases = {"a": "alpha", "b": "beta"}
    cells = [f"A,b {delim}n/a{delim}0{delim}{delim} x.y|z ", "A,b ,n/a,0|x", None]
    proc = EntityProcessor()
    proc.config = EntityProcessorConfig(collection_columns={"v": (aliases, delim)})
    df = spark.createDataFrame(list(enumerate(cells)), "i int, v string")
    got = [r["v"] for r in proc(df).orderBy("i").collect()]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(cells)), "v": cells}))
    sql = normalize_enum_collection_sql("v", aliases, delim)
    want = [r[0] for r in con.execute(f"SELECT {sql} FROM t ORDER BY i").fetchall()]
    assert got == want
    first = {"|": "a,b|0|x.y|z", ".": "a,b.0.x.y|z"}[delim]
    assert got == [first, "a,b ,n/a,0|x", None]
