"""Analytics layer invariants on the sf0.001 star + pipeline checks."""

import pytest
from pyspark.sql import functions as F

from sales_analytics_etl_sql_powerbi_spark import pipeline
from sales_analytics_etl_sql_powerbi_spark.operators import analytics, quality


@pytest.fixture(scope="module")
def star(spark, sf_dir):
    s = pipeline.star(spark, sf_dir)
    s["view"] = s["view"].cache()
    return s


def test_pct_of_total_sums_to_100(star):
    rows = analytics.exec_overview_states(star["view"]).collect()
    assert abs(sum(r.pct_of_total for r in rows) - 100.0) < 1e-6
    # sorted desc by units
    units = [r.units_sold for r in rows]
    assert units == sorted(units, reverse=True)


def test_platform_share_complete(star):
    rows = analytics.platform_share(star["view"]).collect()
    assert {r.platform_name for r in rows} == set(analytics.PLATFORM_VALUES)
    assert abs(sum(r.pct_of_total for r in rows) - 100.0) < 1e-6


def test_pivot_preserves_grand_total(star):
    pivot = analytics.state_platform_pivot(star["view"])
    unit_cols = [c for c in pivot.columns if c.startswith("units_p")]
    pivot_total = pivot.select(
        sum(F.sum(c) for c in map(F.col, unit_cols)).alias("t")
    ).first().t
    view_total = (
        star["view"].where(F.col("state_code").isNotNull()).agg(F.sum("units")).first()[0]
    )
    assert pivot_total == view_total


def test_rank_within_state_dense_from_1(star):
    rows = analytics.platform_rank_in_state(star["view"]).collect()
    by_state = {}
    for r in rows:
        by_state.setdefault(r.state_code, []).append(r.platform_rank)
    for ranks in by_state.values():
        assert min(ranks) == 1


def test_top_products_per_state_caps_n(star):
    rows = analytics.top_products_per_state(star["view"], n=3).collect()
    per_state = {}
    for r in rows:
        per_state.setdefault(r.state_code, []).append(r.rn)
    for rns in per_state.values():
        assert rns == sorted(rns) and len(rns) <= 3


def test_fact_fk_integrity(star):
    # every fact row resolved its dims (inner-join semantics J1)
    f = star["fact"]
    assert f.where(F.col("platform_id").isNull() | F.col("product_id").isNull()).count() == 0
    assert f.where(F.col("date_id").isNull()).count() == 0


def test_dim_date_covers_fact_range(star):
    fr = star["fact"].agg(F.min("date_id").alias("lo"), F.max("date_id").alias("hi")).first()
    dr = star["dim_date"].agg(F.min("date_id").alias("lo"), F.max("date_id").alias("hi")).first()
    assert dr.lo <= fr.lo and dr.hi >= fr.hi
    # contiguous daily calendar
    n = star["dim_date"].count()
    assert n == (dr.hi - dr.lo).days + 1


def test_quality_rowcounts(star):
    counts = quality.rowcounts({"fact": star["fact"], "dim_platform": star["dim_platform"]})
    assert counts["fact"] > 0 and counts["dim_platform"] == 5


def test_observed_rowcounts_free_pass(spark):
    """A10 — observation metrics ride the caller's own action: row and
    non-null counts arrive without a second scan."""
    from sales_analytics_etl_sql_powerbi_spark.operators import quality

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id int, v string"
    )
    obs_df, obs = quality.observed(df, nonnull_cols=["v"])
    assert obs_df.count() == 3  # the action the pipeline runs anyway
    assert quality.observed_metrics(obs) == {"row_count": 3, "nonnull_v": 2}


def _pruned_observation(spark):
    """An observation whose CollectMetrics node AQE prunes away: the
    observed frame is inner-joined against an empty side, so
    empty-relation propagation collapses the whole plan at runtime
    (the round-13 gotcha, reproduced in miniature)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import quality

    df = spark.createDataFrame([(1,), (2,)], "id int")
    obs_df, obs = quality.observed(df)
    empty = spark.createDataFrame([], "id int")
    joined = obs_df.join(empty, "id")
    assert joined.count() == 0
    return obs


def test_observation_probe_canary(spark):
    """VERDICT r13 item 2: the AQE-pruned-metrics fast path reads the
    private ``Observation._jo.getRow()`` handle. This canary pins that
    private API on the pinned pyspark — a version bump that breaks it
    turns the (otherwise silent) degradation to the portable path into
    a red test, so the fallback plumbing gets re-verified on upgrade.
    Also documents WHY the private probe exists: in the pruned corner
    ``obs.get`` itself raises (toPyRow on the empty schema-less row),
    so 'call .get and look' is not a clean detection on this version.
    """
    from py4j.protocol import Py4JJavaError

    from sales_analytics_etl_sql_powerbi_spark.operators import quality

    import pytest as _pytest

    # normal observation: private probe sees a non-empty metrics row
    df = spark.createDataFrame([(1,), (2,)], "id int")
    obs_df, obs = quality.observed(df)
    assert obs_df.count() == 2
    assert obs._jo.getRow().length() > 0  # the canary
    assert quality.observation_metrics(obs) == {"row_count": 2}

    # pruned observation: probe sees the empty row; .get raises on
    # this pyspark (the behavior the layered helper absorbs)
    pruned = _pruned_observation(spark)
    assert pruned._jo.getRow().length() == 0  # the canary, empty side
    assert quality.observation_metrics(pruned) is None
    with _pytest.raises(Py4JJavaError):
        pruned.get


def test_observed_metrics_raises_on_pruned_node(spark):
    """ADVICE r13: observed_metrics' contract is 'raises rather than
    return wrong zeros' when the metrics node is AQE-pruned — pin the
    raise (the code used to silently return {})."""
    from sales_analytics_etl_sql_powerbi_spark.operators import quality

    import pytest as _pytest

    pruned = _pruned_observation(spark)
    with _pytest.raises(ValueError, match="pruned by AQE"):
        quality.observed_metrics(pruned)


def test_cohort_retention_matches_duckdb(spark, sf_dir):
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import analytics as A
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    got = {
        (str(r.cohort), r.period_offset): r.active_users
        for r in A.cohort_retention(ev).collect()
    }
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"create view events as select * exclude(ts),"
        f" make_timestamp(ts // 1000) as ts"
        f" from '{sf_dir}/events.parquet'"
    ) if "bigint" in dict(ev.dtypes).get("ts", "") else con.execute(
        f"create view events as select * from '{sf_dir}/events.parquet'"
    )
    want = {
        (str(r[0]), r[1]): r[2]
        for r in con.execute(A.COHORT_RETENTION_SQL).fetchall()
    }
    assert got == want and got
    # cohort offset 0 always has at least as many users as offset 1
    for (c, off), n in got.items():
        if off == 0 and (c, 1) in got:
            assert n >= got[(c, 1)]


def test_funnel_conversion_ordered_and_bounded(spark):
    import datetime as dt

    from sales_analytics_etl_sql_powerbi_spark.operators import analytics as A

    t0 = dt.datetime(2024, 1, 1)

    def e(eid, m, u, typ):
        return (eid, t0 + dt.timedelta(minutes=m), u, typ, 1.0)

    rows = [
        # user 0: full ordered funnel
        e(0, 0, 0, "view"), e(1, 10, 0, "cart"), e(2, 20, 0, "purchase"),
        # user 1: cart BEFORE view -> stops after view
        e(3, 10, 1, "view"), e(4, 0, 1, "cart"),
        # user 2: view then purchase, no cart -> stops after view
        e(5, 0, 2, "view"), e(6, 30, 2, "purchase"),
        # user 3: full funnel but purchase outside the 1-day bound
        e(7, 0, 3, "view"), e(8, 10, 3, "cart"), e(9, 60 * 30, 3, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r.step: r.users for r in A.funnel_conversion(ev).collect()}
    assert out == {"view": 4, "cart": 2, "purchase": 2}
    bounded = {
        r.step: r.users
        for r in A.funnel_conversion(ev, within_days=1.0).collect()
    }
    assert bounded == {"view": 4, "cart": 2, "purchase": 1}


def test_funnel_conversion_matches_duckdb(spark, sf_dir):
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import analytics as A
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    steps = ("view", "cart", "purchase")
    got = {
        (r.step_index, r.step): r.users
        for r in A.funnel_conversion(ev, steps, within_days=30.0).collect()
    }
    con = duckdb.connect()
    ddl = (
        f"create view events as select * exclude(ts),"
        f" make_timestamp(ts // 1000) as ts from '{sf_dir}/events.parquet'"
        if "bigint" in dict(ev.dtypes).get("ts", "")
        else f"create view events as select * from '{sf_dir}/events.parquet'"
    )
    con.execute(ddl)
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            A.funnel_conversion_sql(steps, within_days=30.0)
        ).fetchall()
    }
    assert got == want and got[(0, "view")] > 0


def test_cohort_retention_day_granularity_offsets(spark):
    import datetime as dt

    from sales_analytics_etl_sql_powerbi_spark.operators import analytics as A

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 0, "view", 1.0),
        (1, t0 + dt.timedelta(days=2), 0, "view", 1.0),  # day offset 2
        (2, t0 + dt.timedelta(days=14), 0, "view", 1.0),  # week offset 2
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    day = {(str(r.cohort), r.period_offset) for r in A.cohort_retention(ev, "day").collect()}
    assert ("2024-01-01", 2) in day and ("2024-01-01", 0) in day
    week = {r.period_offset for r in A.cohort_retention(ev, "week").collect()}
    assert week == {0, 2}
    import pytest

    with pytest.raises(ValueError):
        A.cohort_retention(ev, "hour")


def test_expectations_one_pass_and_gate(spark):
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, "CA", 10), (2, None, 5), (3, "XX", -1), (4, "NY", 0)],
        "id long, state string, units int",
    )
    rules = {
        "state_not_null": F.col("state").isNotNull(),
        "units_non_negative": F.col("units") >= 0,
        "state_two_upper": F.col("state").rlike("^[A-Z]{2}$"),
        "id_positive": F.col("id") > 0,
    }
    out = {r.rule: (r.violations, r.total) for r in Q.expectations(df, rules).collect()}
    # NULL conditions count as violations: the NULL state fails BOTH
    # state rules (rlike on NULL is NULL, not pass)
    assert out == {
        "state_not_null": (1, 4),
        "units_non_negative": (1, 4),
        "state_two_upper": (1, 4),
        "id_positive": (0, 4),
    }
    import pytest

    with pytest.raises(AssertionError, match="state_not_null"):
        Q.assert_expectations(df, rules)
    clean = df.where(F.col("state").rlike("^[A-Z]{2}$") & (F.col("units") >= 0))
    Q.assert_expectations(
        clean, {"state_not_null": F.col("state").isNotNull()}
    )  # no raise
    # ONE aggregate pass: a single Aggregate over the scan per branch
    plan = Q.expectations(df, rules)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") <= 2  # partial+final, not per-rule


def test_expectations_empty_batch_and_dotted_rule_names(spark):
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import quality as Q

    empty = spark.range(0).selectExpr("id", "cast(null as string) state")
    rules = {"state.not_null": F.col("state").isNotNull()}
    out = Q.expectations(empty, rules).collect()
    assert [(r.rule, r.violations, r.total) for r in out] == [
        ("state.not_null", 0, 0)
    ]
    Q.assert_expectations(empty, rules)  # vacuously clean, no crash


def test_fk_violations_returns_orphans(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import quality as Q

    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, units long"
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    orphans = Q.fk_violations(fact, dim, "k").collect()
    assert [(r.k, r.units) for r in orphans] == [(3, 30)]


def test_profile_table_one_pass(spark, sf_dir):
    from sales_analytics_etl_sql_powerbi_spark.operators import quality as Q

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {r.column: r for r in Q.profile_table(docs).collect()}
    assert set(out) == set(docs.columns)
    d = out["doc_id"]
    n = docs.count()
    assert d.n == n and d.nulls == 0
    assert abs(d.approx_distinct - n) / n < 0.15
    assert d.mean is not None and out["text"].mean is None
    # ONE aggregate over the scan (partial+final), not one per column
    plan = Q.profile_table(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") <= 2


def test_profile_table_dotted_names_maps_and_fk_nulls(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import quality as Q

    df = spark.createDataFrame([(1, {"x": 1})], ["a.b", "m"])
    out = {r.column: r for r in Q.profile_table(df).collect()}
    assert out["a.b"].nulls == 0 and out["a.b"].min == "1"
    assert out["m"].min is None and out["m"].approx_distinct is None
    fact = spark.createDataFrame([(1, 10), (None, 20)], "k long, units long")
    dim = spark.createDataFrame([(1,)], "k long")
    # NULL FK is "no reference", not an orphan
    assert Q.fk_violations(fact, dim, "k").count() == 0
