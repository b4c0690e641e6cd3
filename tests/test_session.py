"""One conf scope: library code never writes the caller's session.

``session.scoped`` hands library code a session with its overrides —
the caller itself when they already hold, else a kept child session
mirroring the caller's confs — and ``session.adopt`` moves a frame
between the two without a job.
"""

import threading
import time

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from sales_analytics_etl_sql_powerbi_spark import pipeline, session
from sales_analytics_etl_sql_powerbi_spark.operators import graph
from sales_analytics_etl_sql_powerbi_spark.sources.readers import (
    TIMESTAMP_CONF,
    read_events,
)

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"
TZ = "spark.sql.session.timeZone"


def test_get_spark_session_builds_on_the_caller(spark, sf_dir):
    """The ``get_spark`` session (the perfbench one adds only static
    UI/JVM settings) already holds the timestamp confs, so the entry
    queries and the events reader build on it: no child is made."""
    from perfbench.run import EXTRA_CONF

    assert not TIMESTAMP_CONF.keys() & EXTRA_CONF.keys()
    assert session.scoped(spark, TIMESTAMP_CONF) is spark
    assert read_events(spark, sf_dir).sparkSession is spark
    assert E.queries()["events_windows"](spark, sf_dir).sparkSession is spark
    key = frozenset(TIMESTAMP_CONF.items())
    assert key not in session._CHILDREN.get(spark, {})


def test_scoped_child_mirrors_the_caller_and_is_kept(spark):
    caller = spark.newSession()
    caller.conf.set("spark.sql.autoBroadcastJoinThreshold", "123")
    child = session.scoped(caller, {AQE: "false"})
    assert child is not caller
    assert child.sparkContext is caller.sparkContext
    assert child.conf.get(AQE) == "false"
    assert child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "123"
    assert caller.conf.get(AQE) == "true"
    # kept per (caller, override set); re-synced from the caller
    caller.conf.set("spark.sql.autoBroadcastJoinThreshold", "456")
    caller.conf.set(PARTS, "3")
    assert session.scoped(caller, {AQE: "false"}) is child
    assert child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "456"
    assert child.conf.get(PARTS) == "3"
    caller.conf.unset(PARTS)
    session.scoped(caller, {AQE: "false"})
    assert child.conf.get(PARTS) == caller.conf.get(PARTS)
    assert session.scoped(caller, {AQE: "false", PARTS: "2"}) is not child


def test_adopt_rehomes_a_frame_without_changing_it(spark):
    child = session.scoped(spark.newSession(), {AQE: "false"})
    df = spark.range(20).withColumn("k", F.col("id") % 3).persist()
    want = sorted(df.collect())
    moved = session.adopt(child, df)
    assert moved.sparkSession is child
    assert sorted(moved.collect()) == want
    assert session.adopt(child, moved) is moved
    # the caller's cache entry survives the move and serves both frames
    for f in (df, moved):
        assert "InMemoryTableScan" in f._jdf.queryExecution().executedPlan().toString()
    df.unpersist()
    assert not [
        t for t in spark.catalog.listTables("global_temp") if t.name.startswith("adopt_")
    ]


def test_pagerank_leaves_a_concurrent_callers_confs_alone(spark):
    """Thread A runs PageRank; thread B, sharing the session,
    keeps reading its confs and planning a query. B must see the
    caller's AQE, shuffle partitions and zone throughout."""
    want = {k: spark.conf.get(k) for k in (AQE, PARTS, TZ)}
    edges = spark.range(400).select(
        (F.col("id") % 97).alias("src"), ((F.col("id") * 7 + 1) % 89).alias("dst")
    )
    done = threading.Event()
    seen: list[dict] = []
    errors: list[Exception] = []

    def run_pagerank():
        try:
            graph.pagerank(edges, max_iter=12, checkpoint_every=2).count()
        except Exception as e:  # surfaced below
            errors.append(e)
        finally:
            done.set()

    a = threading.Thread(target=run_pagerank)
    a.start()
    deadline = time.monotonic() + 300
    while not done.is_set() and time.monotonic() < deadline:
        seen.append({k: spark.conf.get(k) for k in (AQE, PARTS, TZ)})
        q = spark.range(50).groupBy((F.col("id") % 5).alias("g")).count()
        plan = q._jdf.queryExecution().executedPlan().toString()
        seen.append({AQE: str("AdaptiveSparkPlan" in plan).lower()})
    a.join(timeout=60)
    assert not a.is_alive()
    assert not errors
    assert len(seen) > 2
    assert all(v == want[k] for s in seen for k, v in s.items())


TZ_QUERIES = ("dim_date", "events_windows", "events_cohort_funnel")


@pytest.mark.parametrize("name", TZ_QUERIES)
def test_entry_queries_ignore_a_non_utc_caller(spark, sf_dir, monkeypatch, name):
    """A caller in another zone gets the UTC results and keeps its zone.
    The entry's per-session memo dicts are swapped out so frames built
    for this caller's scoped child do not outlive the test."""
    for mod, attr in (
        (E, "_PLAN_CACHE"),
        (E, "_QUERY_PERSISTS"),
        (pipeline, "_DIM_PRODUCT_CACHE"),
    ):
        monkeypatch.setattr(mod, attr, {})
    caller = spark.newSession()
    caller.conf.set(TZ, "America/Los_Angeles")
    q = E.queries()[name]
    got = q(caller, sf_dir).toPandas()
    want = q(spark, sf_dir).toPandas()
    assert caller.conf.get(TZ) == "America/Los_Angeles"
    assert caller.conf.get(AQE) == spark.conf.get(AQE)
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols
    key = lambda df: sorted(map(repr, df[cols].itertuples(index=False)))  # noqa: E731
    assert key(got) == key(want)
