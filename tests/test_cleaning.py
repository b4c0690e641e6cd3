"""FIXTURES.md edge cases for the cleaning layer (SURVEY §2.2)."""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from sales_analytics_etl_sql_powerbi_spark.functions.cleaning import (
    blank_as_null,
    clean_whitespace,
    coalesce_product_key,
    ensure_columns,
    int_with_default,
    normalize_colname,
    normalize_columns,
    parse_timestamp,
    strip_units_to_double,
    truncate_to_widths,
    valid_state_code,
)
from pyspark.sql import types as T


def one(spark, expr, **cols):
    df = spark.createDataFrame([Row(**cols)])
    return df.select(expr.alias("v")).first().v


def test_normalize_colname_bom_and_separators():
    assert normalize_colname("﻿Order No") == "Order_No"
    assert normalize_colname("Batch Number") == "Batch_Number"
    assert normalize_colname("Urgent-Orders") == "Urgent_Orders"
    # reference replaces each separator individually: double space -> __
    assert normalize_colname("Urgent  Orders") == "Urgent__Orders"
    # BOM anywhere, not only leading
    assert normalize_colname("a﻿b") == "ab"
    assert normalize_colname("  padded  ") == "padded"


def test_normalize_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["﻿A col", "B-col"])
    assert normalize_columns(df).columns == ["A_col", "B_col"]


def test_parse_timestamp_edges(spark):
    rows = [
        ("2024-03-01 10:00:00", datetime.datetime(2024, 3, 1, 10)),
        ("2024-03-01 10:00:00\t", datetime.datetime(2024, 3, 1, 10)),  # trailing tab
        (" 2024-03-01 10:00:00 ", datetime.datetime(2024, 3, 1, 10)),
        ("2024-03-01", datetime.datetime(2024, 3, 1)),  # fallback inference
        ("notadate", None),
        ("", None),
        (None, None),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], ["ts"])
    got = [r.v for r in df.select(parse_timestamp("ts").alias("v")).collect()]
    assert got == [r[1] for r in rows]


def test_strip_units_to_double(spark):
    rows = [
        ("8.9523ft³", 8.9523),
        ("5.2901ft3", 5.2901),
        ("78.2641lb", 78.2641),
        ("42", 42.0),
        ("junk", None),
        ("", None),
        (None, None),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], ["v0"])
    got = [r.v for r in df.select(strip_units_to_double("v0").alias("v")).collect()]
    assert got == [r[1] for r in rows]


def test_valid_state_code(spark):
    rows = [
        ("NJ", "NJ"),
        (" fl ", "FL"),
        ("XYZ", None),
        ("123", None),
        ("f1", None),
        ("", None),
        (None, None),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], ["s"])
    got = [r.v for r in df.select(valid_state_code("s").alias("v")).collect()]
    assert got == [r[1] for r in rows]


def test_int_with_default(spark):
    rows = [("3", 3), ("3.0", 3), ("3.5", 3), ("abc", 1), ("", 1), (None, 1)]
    df = spark.createDataFrame([(r[0],) for r in rows], ["n"])
    got = [r.v for r in df.select(int_with_default("n").alias("v")).collect()]
    assert got == [r[1] for r in rows]


def test_blank_null_and_product_key(spark):
    df = spark.createDataFrame(
        [("SKU-1", "ALT-1"), ("  ", "ALT-2"), (None, "ALT-3"), (None, "  ")],
        ["master_sku", "sku"],
    )
    got = [
        r.v
        for r in df.select(
            coalesce_product_key("master_sku", "sku").alias("v")
        ).collect()
    ]
    assert got == ["SKU-1", "ALT-2", "ALT-3", None]
    assert one(spark, blank_as_null("x"), x="  ") is None


def test_ensure_columns_and_truncate(spark):
    df = spark.createDataFrame([("abcdefgh",)], ["long_col"])
    out = ensure_columns(df, {"long_col": T.StringType(), "extra": T.IntegerType()})
    assert set(out.columns) == {"long_col", "extra"}
    assert out.first().extra is None
    t = truncate_to_widths(out, {"long_col": 3, "absent": 5})
    assert t.first().long_col == "abc"


def test_clean_whitespace(spark):
    assert one(spark, clean_whitespace("x"), x="\ta b\r\n ") == "a b"


def test_int_with_default_duckdb_twin_parity(spark):
    """Spark truncates double->int; the oracle must trunc() (DuckDB rounds)."""
    import duckdb

    values = ["3", "3.5", "-3.5", "NaN", "1e10", "abc", "", None]
    df = spark.createDataFrame([(v,) for v in values], "units_raw string")
    got = [r.v for r in df.select(int_with_default("units_raw").alias("v")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (units_raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    duck = [
        r[0]
        for r in con.execute(
            "SELECT coalesce(try_cast(trunc(try_cast(units_raw AS DOUBLE)) AS INT), 1)"
            " FROM t"
        ).fetchall()
    ]
    assert got == duck == [3, 3, -3, 1, 1, 1, 1, 1]
