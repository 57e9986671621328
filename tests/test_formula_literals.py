"""Hand-written expected values for the formulas whose Spark Column and
DuckDB oracle are built from the same SQL text. Oracle parity cannot see a
typo in that shared text; these literals, worked out by hand from each
formula's definition, can. Each case runs on both engines."""

from decimal import Decimal

import duckdb
import pandas as pd
import pytest

from giga_spatial_spark.functions import text as T
from giga_spatial_spark.functions.dialect import spark_col
from giga_spatial_spark.operators import los
from giga_spatial_spark.operators.normalize import (
    clean_string_sql,
    normalize_enum_collection_sql,
    normalize_enum_sql,
)


def _both(spark, rows, schema, sqls):
    """Each SQL text evaluated per input row, on Spark and on DuckDB (whose
    DECIMAL results come back as floats)."""
    names = [c.split()[0] for c in schema.split(",")]
    df = spark.createDataFrame(rows, schema)
    sp = df.select(*[spark_col(s).alias(f"c{i}") for i, s in enumerate(sqls)])
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=names))
    cols = ", ".join(f"{s} AS c{i}" for i, s in enumerate(sqls))
    dk = con.execute(f"SELECT {cols} FROM t").fetchall()
    dk = [tuple(float(v) if isinstance(v, Decimal) else v for v in r) for r in dk]
    return [tuple(r) for r in sp.collect()], dk


LANG_CASES = [
    ("the cat and the dog", "en"),               # en 3
    ("el perro y la casa de la madre", "es"),    # es 4, fr 3
    ("la de", "es"),                             # es 2 = fr 2: first code wins
    ("le chat et les chiens", "fr"),             # fr 3
    ("der Hund und die Katze", "de"),            # de 3
    ("THE AND", "und"),                          # case-sensitive
    ("hello world", "und"),
    ("", "und"),
]


def test_lang_id(spark):
    rows = [(t,) for t, _ in LANG_CASES]
    sp, dk = _both(spark, rows, "text string", [T.predicted_lang_sql("text")])
    want = [(lang,) for _, lang in LANG_CASES]
    assert sp == want and dk == want


K_TROPICAL, K_SUBTROPICAL_DRY, K_TEMPERATE, K_POLAR = (
    1.539421, 1.256079, 1.341994, 1.207754,  # 1 / (1 - 6371e-6 * dN1)
)
ZONE_CASES = [
    # (lat, lon, zone, k_median rounded to 6)
    (0.0, 0.0, "tropical", K_TROPICAL),
    (22.99, 10.0, "tropical", K_TROPICAL),
    (23.0, 10.0, "subtropical_dry", K_SUBTROPICAL_DRY),   # 23° threshold
    (-23.0, 100.0, "temperate", K_TEMPERATE),
    (35.0, 10.0, "temperate", K_TEMPERATE),               # 35° threshold
    (34.99, 10.0, "subtropical_dry", K_SUBTROPICAL_DRY),
    (60.0, 10.0, "polar", K_POLAR),                       # 60° threshold
    (-60.0, 10.0, "polar", K_POLAR),
    (59.99, 10.0, "temperate", K_TEMPERATE),
    (25.0, 20.0, "subtropical_dry", K_SUBTROPICAL_DRY),   # Sahara
    (30.0, -20.0, "subtropical_dry", K_SUBTROPICAL_DRY),  # Sahara, 340° edge
    (30.0, 60.0, "subtropical_dry", K_SUBTROPICAL_DRY),   # Sahara, 60° edge
    (30.0, 61.0, "temperate", K_TEMPERATE),
    (-25.0, 135.0, "subtropical_dry", K_SUBTROPICAL_DRY),  # Australia
    (25.0, 135.0, "temperate", K_TEMPERATE),               # north of it
    (-25.0, -70.0, "subtropical_dry", K_SUBTROPICAL_DRY),  # Atacama
    (-25.0, -60.0, "temperate", K_TEMPERATE),
]


def test_climate_zone_and_k_factor(spark):
    rows = [(lat, lon) for lat, lon, _, _ in ZONE_CASES]
    sqls = [
        los.climate_zone_sql("lat", "lon"),
        f"round({los.k_factor_median_sql('lat', 'lon')}, 6)",
    ]
    sp, dk = _both(spark, rows, "lat double, lon double", sqls)
    want = [(z, k) for _, _, z, k in ZONE_CASES]
    assert sp == want and dk == want


ALIASES = {"op": "open", "cl": "closed", "1-urgent": "urgent"}
NORMALIZE_CASES = [
    # (raw, clean, enum keep, enum null, collection)
    ("  OP ", "op", "open", "open", "open"),
    ("cl", "cl", "closed", "closed", "closed"),
    ("1-URGENT", "1-urgent", "urgent", "urgent", "urgent"),
    ("Other", "other", "other", None, "other"),
    (" N/A ", None, None, None, None),
    ("unknown", None, None, None, None),
    ("--", None, None, None, None),
    ("", None, None, None, None),
    (None, None, None, None, None),
    ("OP, cl ,n/a,,x", "op, cl ,n/a,,x", "op, cl ,n/a,,x", None, "open,closed,x"),
    (",,", ",,", ",,", None, None),
]


def test_clean_enum_and_collection(spark):
    rows = [(c[0],) for c in NORMALIZE_CASES]
    sqls = [
        clean_string_sql("v"),
        normalize_enum_sql("v", ALIASES),
        normalize_enum_sql("v", ALIASES, unknown="null"),
        normalize_enum_collection_sql("v", ALIASES),
    ]
    sp, dk = _both(spark, rows, "v string", sqls)
    want = [c[1:] for c in NORMALIZE_CASES]
    assert sp == want and dk == want


QUALITY_CASES = [
    # (text, n_chars, n_tokens, punct_ratio, mean_token_len)
    ("Hello, world. This is it!", 25, 5, 0.12, 4.2),
    ("a  b\tc", 6, 3, 0.0, 1.33),   # (6 - 3 + 1) / 3
    ("sss ss", 6, 2, 0.0, 2.5),      # '\s+' is whitespace, not the letter s
    ("?!", 2, 1, 1.0, 2.0),
    ("   ", 3, 0, 0.0, 4.0),         # blank: 0 tokens, divisor 1
    ("", 0, 0, 0.0, 1.0),
]


SIGNALS = ["n_chars_extracted", "n_tokens", "punct_ratio", "mean_token_len"]


@pytest.mark.parametrize("signal", SIGNALS)
def test_quality_signals(spark, signal):
    col = SIGNALS.index(signal) + 1
    rows = [(c[0],) for c in QUALITY_CASES]
    sp, dk = _both(spark, rows, "text string", [T.quality_sqls("text")[signal]])
    want = [(c[col],) for c in QUALITY_CASES]
    assert sp == want and dk == want
