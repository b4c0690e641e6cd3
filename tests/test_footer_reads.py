"""Table reads take their schema from the parquet footers.

``readers.read_table`` and ``read_events`` read a local table with the
schema its footers prove (``readers.parquet_footer``), which launches
no Spark job, and fall back to Spark's inference everywhere else. These
tests pin that the declared schema is the one Spark would infer, that
the fallbacks get Spark's own schema, that a table rewritten in place
is read as it is now, and how many jobs the plan builds launch.
"""

import os
import shutil

import pytest
from conftest import jobs_in
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as E
from sales_analytics_etl_sql_powerbi_spark import pipeline
from sales_analytics_etl_sql_powerbi_spark.session import scoped
from sales_analytics_etl_sql_powerbi_spark.sources.readers import (
    TIMESTAMP_CONF,
    parquet_footer,
    read_events,
    read_table,
)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_table_reads_declare_the_inferred_schema_without_a_job(spark, sf_dir, sf):
    """Every testdata table reads with exactly the schema Spark infers
    (``events`` with the type its ``ts`` normalization gives an
    inferred read), and no read launches a job."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        reads = [
            lambda s=s: read_table(spark, sf_dir, name, spread=s) for s in (True, False)
        ]
        want = spark.read.parquet(path).schema
        if name == "events":
            reads.append(lambda: read_events(spark, sf_dir))
            inferred = scoped(spark, TIMESTAMP_CONF).read.parquet(path)
            want = inferred.withColumn("ts", F.col("ts").cast(T.TimestampType())).schema
        for read in reads:
            df, jobs = jobs_in(spark, read)
            assert jobs == [], name
            assert df.schema == want, name


def _write(path, table):
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def test_footer_fallbacks_get_sparks_own_schema(spark, tmp_path):
    """Where the footers do not prove the schema (a nanosecond or
    out-of-allowlist type, ``inferTimestampNTZ`` off, a ``file:`` URI,
    a partitioned directory) Spark infers it; a zoned timestamp and a
    Spark-written directory read from the footer. Either way the read
    gets Spark's own schema."""
    import datetime as dt
    import decimal

    import pyarrow as pa

    when = [dt.datetime(2024, 1, 2, 3, 4, 5, 6)]
    _write(
        str(tmp_path / "zoned" / "t.parquet"),
        pa.table({"ts": pa.array(when, pa.timestamp("us", tz="UTC"))}),
    )
    _write(
        str(tmp_path / "naive" / "t.parquet"),
        pa.table({"ts": pa.array(when, pa.timestamp("us"))}),
    )
    _write(
        str(tmp_path / "nanos" / "t.parquet"),
        pa.table({"ts": pa.array(when, pa.timestamp("ns"))}),
    )
    _write(
        str(tmp_path / "other" / "t.parquet"),
        pa.table({
            "b": pa.array([1], pa.int8()),
            "d": pa.array([dt.date(2024, 1, 2)]),
            "x": pa.array([decimal.Decimal("1.25")], pa.decimal128(5, 2)),
        }),
    )
    _write(
        str(tmp_path / "partitioned" / "t.parquet" / "k=1" / "p.parquet"),
        pa.table({"v": pa.array([1], pa.int64())}),
    )
    spark.range(3).selectExpr(
        "id", "cast(id as decimal(10, 2)) AS d", "named_struct('a', id) AS s",
        "array(id) AS arr", "date_from_unix_date(cast(id as int)) AS day",
    ).write.parquet(str(tmp_path / "spark" / "t.parquet"))

    ntz_off = spark.newSession()
    ntz_off.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    nanos_as_long = scoped(spark, TIMESTAMP_CONF)
    # (session, sf_dir, whether the footer proves the schema)
    cases = {
        "zoned": (spark, str(tmp_path / "zoned"), True),
        "naive": (spark, str(tmp_path / "naive"), True),
        "spark": (spark, str(tmp_path / "spark"), True),
        "nanos": (nanos_as_long, str(tmp_path / "nanos"), False),
        "ntz_off": (ntz_off, str(tmp_path / "naive"), False),
        "other": (spark, str(tmp_path / "other"), False),
        "partitioned": (spark, str(tmp_path / "partitioned"), False),
        "uri": (spark, "file:" + str(tmp_path / "zoned"), False),
    }
    for case, (session, sf_dir, proven) in cases.items():
        path = os.path.join(sf_dir, "t.parquet")
        footer = parquet_footer(path, session)
        assert (footer is not None and footer.schema is not None) == proven, case
        df, jobs = jobs_in(session, lambda: read_table(session, sf_dir, "t"))
        assert df.schema == session.read.parquet(path).schema, case
        if proven:
            assert jobs == [], case
    assert read_table(ntz_off, cases["naive"][1], "t").schema["ts"].dataType == (
        T.TimestampType()
    )
    # data files whose footers disagree prove no one schema
    _write(str(tmp_path / "mixed" / "a.parquet"), pa.table({"v": pa.array([1], pa.int32())}))
    _write(str(tmp_path / "mixed" / "b.parquet"), pa.table({"v": pa.array([1], pa.int64())}))
    assert parquet_footer(str(tmp_path / "mixed"), spark).schema is None


def test_rewritten_table_is_read_as_it_is_now(spark, sf_dir, tmp_path, monkeypatch):
    """Rewriting a table in place between two calls of one session:
    each second call returns what the same entry returns on a copy of
    the rewritten tables that the session never read. Covers a plain
    read (``events_windows``), the IVF codebook memo (``ann_ivf_topk``)
    and the persisted dim-product memo under a star consumer
    (``category_rollup``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(pipeline, "_DIM_PRODUCT_CACHE", {})
    monkeypatch.setattr(E, "_PLAN_CACHE", {})
    live, fresh = tmp_path / "live", tmp_path / "fresh"
    shutil.copytree(sf_dir, live)
    qs = E.queries()
    names = ("events_windows", "ann_ivf_topk", "category_rollup")

    def run(sf_dir):
        return {n: sorted(map(repr, qs[n](spark, str(sf_dir)).collect())) for n in names}

    def codebook():
        (hit,) = [v for k, v in E._PLAN_CACHE.items() if k[0] == "ivf_centroids"]
        return hit[1]

    first, first_codebook = run(live), codebook()

    def rotate(t, cols):
        for c in cols:
            col = t[c].combine_chunks()
            t = t.set_column(
                t.schema.get_field_index(c), c, pa.concat_arrays([col[1:], col[:1]])
            )
        return t

    events = pq.read_table(live / "events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 2), live / "events.parquet")
    emb = pq.read_table(live / "embeddings.parquet")
    pq.write_table(rotate(emb, ["embedding"]), live / "embeddings.parquet")
    part = pq.read_table(live / "part.parquet")
    pq.write_table(rotate(part, ["p_name", "p_type"]), live / "part.parquet")
    shutil.copytree(live, fresh)

    second = run(live)
    assert codebook() != first_codebook
    assert second == run(fresh)
    for n in names:
        assert second[n] != first[n], f"the rewrite left {n} unchanged"
    for _, df in pipeline._DIM_PRODUCT_CACHE.values():
        df.unpersist()


def test_plan_builds_launch_no_table_read_job(spark, sf_dir, monkeypatch):
    """Building the star and the operator-pass entries launches no job
    (table reads take their footer schema); the IVF entry launches at
    most its codebook sample collect. Memos start empty, so these are
    first builds."""
    monkeypatch.setattr(pipeline, "_DIM_PRODUCT_CACHE", {})
    monkeypatch.setattr(E, "_PLAN_CACHE", {})
    qs = E.queries()
    builds = {"pipeline.star": lambda: pipeline.star(spark, sf_dir)}
    for name in ("text_stats", "multimodal_features", "events_windows", "ann_ivf_topk"):
        builds[name] = lambda name=name: qs[name](spark, sf_dir)
    #: jobs a build may launch, with the reason
    allowed = {"ann_ivf_topk": 1}  # the IVF codebook's sample collect
    for name, build in builds.items():
        _, jobs = jobs_in(spark, build)
        assert len(jobs) <= allowed.get(name, 0), (name, jobs)
    _, jobs = jobs_in(spark, builds["pipeline.star"])
    assert jobs == [], "repeat star build"
