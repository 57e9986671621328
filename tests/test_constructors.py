"""Query constructors build lazy plans: no Spark job fires while a board
query is constructed, and read_parquet's footer schema equals Spark's own
inference, so the inference job it skips changes nothing."""

import glob
import os

import pytest

import __spark_entry__ as E
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
