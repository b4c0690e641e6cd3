"""Three-way parity for the 63-bit md5 surrogate key (SURVEY P9/U1/F12).

Spark native expression vs pure-Python reference transcription vs
DuckDB SQL, on rows including NULLs, non-ASCII, and empty strings.
"""

import hashlib

import duckdb
from pyspark.sql import functions as F

from sales_analytics_etl_sql_powerbi_spark.functions.keys import (
    dense_surrogate_id,
    stable_id_expr,
    stable_id_pandas_udf,
    stable_id_sql,
    with_dense_id,
)

ROWS = [
    ("Alice", "ADDR-1", "00001"),
    ("Bob", None, "99999"),
    (None, None, None),
    ("Ünïcödé ✓", "街道", ""),
    ("", "", ""),
    ("a|b", "c", "d"),  # separator collision inside a part
]


def py_reference(name, addr, postal):
    # reference etl/order_info_etl.py:56-65, with our documented NULL->''
    # normalization (keys.py _concat_key docstring)
    parts = [p if p is not None else "" for p in (name, addr, postal)]
    s = "|".join(parts)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16) & (2**63 - 1)


def test_three_way_parity(spark):
    df = spark.createDataFrame(ROWS, ["name", "addr", "postal"])
    native = [
        r.v
        for r in df.select(
            stable_id_expr(["name", "addr", "postal"]).alias("v")
        ).collect()
    ]
    expected = [py_reference(*row) for row in ROWS]
    assert native == expected

    # pandas_udf witness over the same concatenated key
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in
               ("name", "addr", "postal")]
    )
    udf_vals = [
        r.v for r in df.select(stable_id_pandas_udf()(key).alias("v")).collect()
    ]
    assert udf_vals == expected

    # duckdb twin
    con = duckdb.connect()
    con.execute("CREATE TABLE t (name VARCHAR, addr VARCHAR, postal VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", ROWS)
    sql = stable_id_sql(["name", "addr", "postal"])
    duck_vals = [r[0] for r in con.execute(f"SELECT {sql} FROM t").fetchall()]
    assert duck_vals == expected


def test_dense_surrogate_id(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], ["k"])
    out = df.select("k", dense_surrogate_id(["k"]).alias("id")).orderBy("id")
    assert [(r.k, r.id) for r in out.collect()] == [("a", 1), ("b", 2), ("c", 3)]


def test_with_dense_id_matches_global_window(spark):
    from sales_analytics_etl_sql_powerbi_spark.functions.keys import with_dense_id

    df = spark.createDataFrame(
        [(f"k{i:04d}", i) for i in range(500)], "k string, v int"
    ).repartition(7)  # scramble physical layout first
    out = with_dense_id(df, ["k"], id_col="id", num_partitions=5)
    rows = sorted((r.k, r.id) for r in out.collect())
    # dense 1..500 in k order, independent of input partitioning
    assert [r[1] for r in rows] == list(range(1, 501))
    # matches the window-based variant exactly
    w = df.select("k", dense_surrogate_id(["k"]).alias("id"))
    assert sorted((r.k, r.id) for r in w.collect()) == rows


def test_with_dense_id_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpointDir configured (the cluster production setting)
    the range-partitioned numbering uses a reliable FS checkpoint and
    still matches the single-partition window ids exactly."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        df = spark.createDataFrame(
            [(f"k{i:05d}", i * 7 % 100) for i in range(2000)], "k string, v int"
        )
        out = with_dense_id(df, ["k"], id_col="id", num_partitions=8)
        rows = out.orderBy("k").collect()
        assert [r.id for r in rows] == list(range(1, 2001))
    finally:
        if prev is not None:
            sc.setCheckpointDir(prev)
