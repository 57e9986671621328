"""Query constructors build lazy plans: no Spark job fires while a board
query is constructed, and read_parquet's footer schema equals Spark's own
inference, so the inference job it skips changes nothing. Driver-built
tables are Arrow local relations (`session.local_df`) equal to what
PySpark's pickled list path built, and no declared query takes that path."""

import glob
import os

import pytest
from pyspark.sql import SparkSession

import __spark_entry__ as E
from giga_spatial_spark.session import local_df
from giga_spatial_spark.sources.readers import read_parquet

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARQUETS = sorted(
    glob.glob(f"{os.path.dirname(SF_DIR)}/sf*/*.parquet")
    + glob.glob(f"{REPO}/perfbench/data/*/*.parquet")
)

LAZY_QUERIES = [
    "q_tile_assign", "q_pip_tag", "q_pip_tag_rtree", "q_zonal_stats",
    "q_knn_grid", "q_range_count", "q_tile_zonal", "q_s2_zonal",
    "q_hex_zonal", "q_fractional_overlay", "q_zonal_raster",
]


def construct_jobs(spark, group, build):
    """Job ids fired while `build()` runs, via a dedicated job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "constructors only")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_board_constructors_fire_no_jobs(spark):
    assert construct_jobs(spark, "control", lambda: spark.range(3).count())
    queries = E.queries()
    fired = {
        name: construct_jobs(spark, f"construct-{name}",
                             lambda: queries[name](spark, SF_DIR))
        for name in LAZY_QUERIES
    }
    assert fired == {name: [] for name in LAZY_QUERIES}


@pytest.mark.skipif(not PARQUETS, reason="no sf test tables")
def test_read_parquet_schema_equals_inference(spark):
    assert any("timestamp_ntz" in read_parquet(spark, p).schema.simpleString()
               for p in PARQUETS)
    for path in PARQUETS:
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, path
        assert construct_jobs(spark, "footer", lambda: read_parquet(spark, path)) == []


def test_read_parquet_footer_types_match_inference(spark, tmp_path):
    """Nested, zoned and zone-less timestamps, decimals and binaries map
    one to one; INT96 timestamps and unsigned ints, which Spark reads
    differently from Arrow, fall back to Spark's inference."""
    import datetime
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2020, 1, 2, 3, 4, 5)
    table = pa.table({
        "ts": pa.array([ts, None], pa.timestamp("us")),
        "tsz": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
        "day": pa.array([ts.date(), None]),
        "dec": pa.array([Decimal("1.25"), None], pa.decimal128(10, 2)),
        "raw": pa.array([b"x", None]),
        "vec": pa.array([[1.5, None], None], pa.list_(pa.float32())),
        "rec": pa.array([{"a": 1, "b": "s"}, None]),
    })
    cases = {"plain": table, "unsigned": pa.table({"u": pa.array([1, 2], pa.uint32())})}
    for name, t in cases.items():
        pq.write_table(t, str(tmp_path / f"{name}.parquet"))
    pq.write_table(pa.table({"ts": pa.array([ts], pa.timestamp("us"))}),
                   str(tmp_path / "int96.parquet"), use_deprecated_int96_timestamps=True)
    for name in ("plain", "unsigned", "int96"):
        path = str(tmp_path / f"{name}.parquet")
        got, want = read_parquet(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema, name
        assert got.collect() == want.collect(), name


def test_read_parquet_directory_keeps_inference(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.range(5).selectExpr("id", "cast(id as string) s").write.parquet(out)
    assert os.path.isdir(out)
    got = read_parquet(spark, out)
    assert got.schema == spark.read.parquet(out).schema
    assert sorted(r.id for r in got.collect()) == list(range(5))


ALL_TYPES = ("i int, l long, d double, s string, b boolean, y binary, "
             "v array<double>, r array<array<array<double>>>")
LOCAL_CASES = {
    "empty": ([], "a int, b string"),
    "nulls": ([(None,) * 8,
               (1, 2**40, 0.5, "x", True, bytearray(b"\x00\xff"), [1.5, None],
                [[[0.0, 1.0], [2.0, 3.0]], []])], ALL_TYPES),
    "rings": ([(7, [[[float(x), float(x + 1)] for x in range(5)]]), (8, None)],
              "zone_id int, rings array<array<array<double>>>"),
    "xlsx": ([(b"ab", False, "p q", 1.25), (None, None, None, None)],
             "`raw bytes` binary, `is set` boolean, `a name` string, `x y` double"),
}


@pytest.mark.parametrize("case", sorted(LOCAL_CASES))
def test_local_df_equals_list_path(spark, case):
    rows, schema = LOCAL_CASES[case]
    got, want = local_df(spark, iter(rows), schema), spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


def test_local_df_widens_ints_into_double(spark):
    """The list path refused a Python int in a double column; Arrow widens
    it exactly, to what the list path built from the float."""
    got = local_df(spark, [(1, 2**53), (-3, 0)], "a double, b double")
    want = spark.createDataFrame([(1.0, float(2**53)), (-3.0, 0.0)],
                                 "a double, b double")
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("rows, schema", [([("7",)], "n long"), ([(2**31,)], "n int")])
def test_local_df_rejects_wrong_values(spark, rows, schema):
    import pyarrow as pa

    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        local_df(spark, rows, schema)


def test_no_query_takes_the_pickled_list_path(spark, monkeypatch):
    """SparkSession._create_dataframe is the list/RDD path (Python RDD,
    applySchemaToPythonRDD, `Scan ExistingRDD`); the Arrow and pandas paths
    never reach it, so every declared query must build and run without it."""
    def refuse(*_a, **_k):
        raise AssertionError("pickled-Python-RDD createDataFrame")

    monkeypatch.setattr(SparkSession, "_create_dataframe", refuse)
    for name, q in E.queries().items():
        df = q(spark, SF_DIR)
        df.toPandas()
        if name == "q_zonal_stats":
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
