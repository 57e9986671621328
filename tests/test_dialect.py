"""functions.dialect.spark_col: DuckDB builder text parsed for Spark. Each
test covers one place where Spark reads the same SQL text differently."""

from pyspark.sql.types import DoubleType, StringType

from giga_spatial_spark.functions.dialect import spark_col
from giga_spatial_spark.processor import EntityProcessor, EntityProcessorConfig


def _one(spark, *sqls):
    cols = [spark_col(s).alias(f"c{i}") for i, s in enumerate(sqls)]
    df = spark.range(1).select(*cols)
    return [f.dataType for f in df.schema], list(df.collect()[0])


def test_dotted_literals_are_double(spark):
    types, vals = _one(
        spark,
        "1.3333333333333333",
        "CASE WHEN id = 0 THEN 1.5 ELSE 2.25 END",
        "(7 % 3) / 100.0 - 180.0",
        "1.5e-06",
    )
    assert types == [DoubleType()] * 4
    assert vals == [1.3333333333333333, 1.5, 0.01 - 180.0, 1.5e-06]


def test_backslashes_in_literals_survive(spark):
    _, vals = _one(
        spark,
        r"'\s+'",
        r"'\['",
        r"len(regexp_split_to_array('a  b' || chr(9) || 'c', '\s+'))",
        r"regexp_extract('[::1]:80', '^(\[[^\]]*\])', 1)",
        "'it''s'",
    )
    assert vals == ["\\s+", "\\[", 3, "[::1]", "it's"]


def test_varchar_parses(spark):
    types, vals = _one(spark, "cast(12 as varchar)", "CAST(1.5 AS VARCHAR)")
    assert types == [StringType()] * 2
    assert vals == ["12", "1.5"]


def test_renames_touch_only_function_calls(spark):
    df = spark.createDataFrame([("a b", 3, 4)], "s string, x_len int, len int")
    sql = (
        "concat('len(', s, ' starts_with( list_sort(', "
        "cast(x_len + len as varchar), "
        "cast(len(string_split(s, ' ')) as varchar), "
        "array_to_string(list_sort(list_transform(list_filter("
        "string_split('b.a.c', '.'), x -> x <> 'c'), x -> upper(x))), '|'), "
        "cast(starts_with(s, 'a') as varchar))"
    )
    got = df.select(spark_col(sql)).collect()[0][0]
    assert got == "len(a b starts_with( list_sort(72A|Btrue"


def test_quoted_identifiers(spark):
    df = spark.createDataFrame(
        [(" N/A ", " Kano ")], "`admin name` string, `x`` y` string"
    )
    got = df.select(spark_col('lower(trim("x` y"))'), spark_col('"admin name"'))
    assert list(got.collect()[0]) == ["kano", " N/A "]


def test_entity_processor_column_needing_quotes(spark):
    proc = EntityProcessor()
    proc.config = EntityProcessorConfig(
        string_columns=["admin name"],
        enum_aliases={"kind": {"sch": "school"}},
        titlecase_columns=["region name"],
    )
    df = spark.createDataFrame(
        [(" N/A ", " SCH ", " lagos  west "), (" Kano ", "clinic", "unknown")],
        "`Admin Name` string, kind string, `region name` string",
    )
    out = [tuple(r) for r in proc(df).orderBy("kind").collect()]
    assert out == [("kano", "clinic", None), (None, "school", "Lagos  West")]
