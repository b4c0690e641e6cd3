"""salted_join must be row-identical to the plain join."""

from pyspark.sql import functions as F

from sales_analytics_etl_sql_powerbi_spark.operators.skew import salted_join


def frames(spark):
    # hot key: 'A' carries 90% of the rows
    large = spark.createDataFrame(
        [(("A" if i % 10 else "B"), i) for i in range(1000)], "k string, v int"
    )
    small = spark.createDataFrame(
        [("A", "alpha"), ("B", "beta"), ("C", "gamma")], "k string, name string"
    )
    return large, small


def canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_equals_plain(spark):
    large, small = frames(spark)
    plain = large.join(small, "k")
    salted = salted_join(large, small, "k", salt=4)
    assert canon(salted.select("k", "v", "name")) == canon(
        plain.select("k", "v", "name")
    )


def test_salted_left_keeps_unmatched(spark):
    large, small = frames(spark)
    lg = large.unionByName(
        large.sparkSession.createDataFrame([("Z", -1)], "k string, v int")
    )
    salted = salted_join(lg, small, "k", how="left", salt=4)
    z = salted.where(F.col("k") == "Z").collect()
    assert len(z) == 1 and z[0].name is None


def test_salt_spreads_hot_key(spark):
    large, small = frames(spark)
    # distinct salt values actually used for the hot key
    salted = large.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(4))
    )
    n = salted.where(F.col("k") == "A").select("__salt").distinct().count()
    assert n == 4


def test_salted_join_rejects_outer(spark):
    import pytest

    large, small = frames(spark)
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(large, small, "k", how="right", salt=4)
