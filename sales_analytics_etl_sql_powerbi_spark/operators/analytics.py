"""BI-layer analytics — SURVEY §2.4 A1–A10, §2.5 W1–W3, §2.6 O1–O4.

The reference's dashboard queries live in Power BI over
``vw_sales_product_geo`` (reference README.md:83-122,150-164 and the
dashboard screenshots): state leaderboard with percent-of-total,
platform share, state×platform matrix, category/subcategory ranking,
day-of-week trend, platform rank within state. Each is a function of
the reporting-view DataFrame.

Determinism rules for oracle parity:
- ratios are double/double from exact integer sums (bit-identical
  across engines);
- every LIMIT sits on a *total* order (tie-break by key), otherwise
  two engines pick different ties;
- rank() (not row_number) wherever ties should share a rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "exec_overview_states",
    "platform_share",
    "state_platform_pivot",
    "category_subcategory",
    "day_of_week_trend",
    "platform_rank_in_state",
    "top_products_per_state",
    "top_offenders",
    "cohort_retention",
    "funnel_conversion",
    "PLATFORM_VALUES",
]

#: The five o_orderpriority values playing the reference's platforms.
PLATFORM_VALUES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pct_of_total(units_col: str) -> F.Column:
    """W1/A6 — share of grand total, % (reference README.md:152-158).

    Zero-total guard (round 13, same class as similarity's zero-norm
    guard): a degenerate frame whose units sum to 0 would kill the
    whole report under ANSI DIVIDE_BY_ZERO; share-of-nothing is NULL,
    not a failed job. Real data never hits it (gates unchanged)."""
    total = F.sum(units_col).over(Window.partitionBy())
    return F.when(
        total != 0,
        F.lit(100.0) * F.col(units_col).cast("double") / total.cast("double"),
    )


def exec_overview_states(view: DataFrame) -> DataFrame:
    """A3+A6+O1 — units by state with percent-of-total, desc.

    The executive-overview state table (reference README.md:152-153,
    screenshots/dashboard_executive_overview.png).
    """
    return (
        view.where(F.col("state_code").isNotNull())
        .groupBy("state_code")
        .agg(F.sum("units").cast("long").alias("units_sold"))
        .withColumn("pct_of_total", _pct_of_total("units_sold"))
        .orderBy(F.desc("units_sold"), "state_code")
    )


def platform_share(view: DataFrame) -> DataFrame:
    """A6 — platform share of total units (reference README.md:158)."""
    return (
        view.groupBy("platform_name")
        .agg(
            F.sum("units").cast("long").alias("units_sold"),
            F.count_distinct("order_id").alias("order_count"),
        )
        .withColumn("pct_of_total", _pct_of_total("units_sold"))
        .orderBy(F.desc("units_sold"), "platform_name")
    )


def state_platform_pivot(view: DataFrame) -> DataFrame:
    """A8 — state × platform units matrix.

    Reference dashboard_platform_performance.png (right table). Pivot
    values are pinned (no discovery pass) — at 100 TB an unpinned pivot
    means an extra distinct scan. Empty cells are zero-filled (the
    oracle's coalesce(...,0) matches) so the columns stay non-nullable
    BIGINT in both engines.
    """
    pivoted = (
        view.where(F.col("state_code").isNotNull())
        .groupBy("state_code")
        .pivot("platform_name", PLATFORM_VALUES)
        .agg(F.sum("units").cast("long"))
    )
    renames = {v: f"units_p{i + 1}" for i, v in enumerate(PLATFORM_VALUES)}
    out = pivoted.withColumnsRenamed(renames)
    # zero-fill empty cells: keeps the column a non-nullable BIGINT in
    # both engines (a nullable int column degrades to float in pandas)
    out = out.withColumns(
        {c: F.coalesce(F.col(c), F.lit(0)).cast("long") for c in renames.values()}
    )
    return out.orderBy("state_code")


def category_subcategory(view: DataFrame) -> DataFrame:
    """A9 — units and sku counts by category/subcategory.

    Reference README.md:155, dashboard_category_subcategory.png.
    """
    return (
        view.groupBy("category", "subcategory")
        .agg(
            F.sum("units").cast("long").alias("units_sold"),
            F.count_distinct("product_key").alias("sku_count"),
        )
        .orderBy(F.desc("units_sold"), "category", "subcategory")
    )


def day_of_week_trend(view: DataFrame) -> DataFrame:
    """A9/F10 — units by day-of-week (reference README.md:88-92)."""
    return (
        view.groupBy("day_of_week", "day_name")
        .agg(
            F.sum("units").cast("long").alias("units_sold"),
            F.count_distinct("order_id").alias("order_count"),
        )
        .orderBy("day_of_week")
    )


def platform_rank_in_state(view: DataFrame) -> DataFrame:
    """W2 — rank of each platform within each state by units.

    Reference dashboard_platform_performance.png 'Platform Rank by
    State'. rank() shares ranks on ties — engine-order-independent.
    """
    g = (
        view.where(F.col("state_code").isNotNull())
        .groupBy("state_code", "platform_name")
        .agg(F.sum("units").cast("long").alias("units_sold"))
    )
    w = Window.partitionBy("state_code").orderBy(F.desc("units_sold"))
    return g.withColumn("platform_rank", F.rank().over(w).cast("int")).orderBy(
        "state_code", "platform_rank", "platform_name"
    )


def top_products_per_state(view: DataFrame, n: int = 3) -> DataFrame:
    """W3 — top-N products per state (tie-break on product_key)."""
    g = (
        view.where(F.col("state_code").isNotNull())
        .groupBy("state_code", "product_key")
        .agg(F.sum("units").cast("long").alias("units_sold"))
    )
    w = Window.partitionBy("state_code").orderBy(
        F.desc("units_sold"), F.asc("product_key")
    )
    return (
        g.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= n)
        .orderBy("state_code", "rn")
    )


def top_offenders(view: DataFrame, fact_like_filter: F.Column, n: int = 200) -> DataFrame:
    """O2 — TOP(200) offenders check (reference 90_validation_checks.sql:38-48).

    Spark plans this as TakeOrderedAndProject — a per-partition top-k
    then a k-row merge on the driver, never a global sort of the input.
    """
    return (
        view.where(fact_like_filter)
        .groupBy("english_name", "product_key")
        .agg(F.sum("units").cast("long").alias("units_sold"))
        .orderBy(F.desc("units_sold"), "product_key")
        .limit(n)
    )


def category_rollup(view: DataFrame) -> DataFrame:
    """A7/A9 — category/subcategory subtotals + grand total in ONE pass.

    ``rollup`` computes (category, subcategory), (category) and ()
    grouping sets with a single shuffle — the BI "Total" row
    (reference README.md:152 Total 379,532) without a second scan.
    NULL grouping columns are labeled 'ALL' so the row's level is
    self-describing (grouping_id disambiguates genuine NULLs).
    """
    return (
        view.rollup("category", "subcategory")
        .agg(
            F.sum("units").cast("long").alias("units_sold"),
            F.grouping_id().cast("int").alias("level"),
        )
        .select(
            # level bits (rollup order): 2 = category grouped out,
            # 1 = subcategory grouped out
            F.when(F.col("level").bitwiseAND(F.lit(2)) != 0, F.lit("ALL"))
            .otherwise(F.col("category"))
            .alias("category"),
            F.when(F.col("level").bitwiseAND(F.lit(1)) != 0, F.lit("ALL"))
            .otherwise(F.col("subcategory"))
            .alias("subcategory"),
            "units_sold",
            "level",
        )
        .orderBy("level", "category", "subcategory")
    )


def cohort_retention(
    events: DataFrame, granularity: str = "month"
) -> DataFrame:
    """Cohort retention matrix over the events stream.

    Users cohort by the period of their FIRST event; each later active
    period counts them at offset = periods-since-cohort. Output:
    (cohort, period_offset, active_users) — the standard retention
    triangle.

    Scale shape: one user-keyed aggregate (first event), one distinct
    over (user, period) — both map-side combinable — and a user-keyed
    join; nothing event-row-sized shuffles twice. Offsets computed with
    months_between on truncated dates (exact integers for month
    granularity).
    """
    if granularity not in ("month", "week", "day"):
        raise ValueError("granularity must be month, week or day")
    first = events.groupBy("user_id").agg(
        F.date_trunc(granularity, F.min("ts")).alias("__cohort_ts")
    )
    active = events.select(
        "user_id", F.date_trunc(granularity, F.col("ts")).alias("__period_ts")
    ).distinct()
    j = active.join(first, "user_id")
    # offset arithmetic must match the truncation unit: months_between
    # is exact only on month-truncated dates; day/week use day diffs
    if granularity == "month":
        offset = F.round(
            F.months_between(F.col("__period_ts"), F.col("__cohort_ts"))
        ).cast("int")
    else:
        days = F.datediff(F.col("__period_ts"), F.col("__cohort_ts"))
        offset = (days / (7 if granularity == "week" else 1)).cast("int")
    return (
        j.select(
            F.to_date("__cohort_ts").alias("cohort"),
            offset.alias("period_offset"),
            "user_id",
        )
        .groupBy("cohort", "period_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
        .orderBy("cohort", "period_offset")
    )


def cohort_retention_sql(granularity: str = "month") -> str:
    """DuckDB twin of :func:`cohort_retention`. Parity holds for
    'month' (months_between on truncated dates is exact) and 'day'
    (day diffs); 'week' is NOT offered — DuckDB's datediff('week')
    counts week-boundary crossings while Spark computes days/7, which
    diverge off-boundary."""
    if granularity not in ("month", "day"):
        raise ValueError("SQL twin supports month or day granularity")
    return f"""
WITH first AS (
  SELECT user_id, date_trunc('{granularity}', min(ts)) AS cohort_ts
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('{granularity}', ts) AS period_ts FROM events
)
SELECT cast(cohort_ts AS DATE) AS cohort,
       cast(datediff('{granularity}', cohort_ts, period_ts) AS INT) AS period_offset,
       cast(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


COHORT_RETENTION_SQL = cohort_retention_sql("month")


def funnel_conversion(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "cart", "purchase"),
    within_days: float | None = None,
) -> DataFrame:
    """Ordered funnel: users reaching each step IN SEQUENCE.

    A user converts at step k when an event of type ``steps[k]`` occurs
    STRICTLY AFTER their step-(k−1) conversion time (first-touch
    attribution: each step's conversion time is the earliest qualifying
    event). ``within_days`` bounds the whole funnel to a window from
    the step-1 time. Output: (step_index, step, users) with users
    non-increasing down the funnel.

    Scale shape: step 1 is one user-keyed min; each later step is one
    user-keyed join + min over the (already user-sized, not
    event-sized) frontier — steps are few and fixed, so this is k−1
    dim-sized joins, never a per-user event sort or a collect.
    """
    t_prev = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
        .withColumn("__t_prev", F.col("__t1"))
    )
    stages = [t_prev]
    for step in steps[1:]:
        nxt = (
            events.where(F.col("event_type") == step)
            .select("user_id", F.col("ts").alias("__ts"))
            .join(t_prev, "user_id")
            .where(F.col("__ts") > F.col("__t_prev"))
        )
        if within_days is not None:
            nxt = nxt.where(
                F.col("__ts").cast("double") - F.col("__t1").cast("double")
                <= within_days * 86400.0
            )
        t_prev = nxt.groupBy("user_id", "__t1").agg(
            F.min("__ts").alias("__t_prev")
        )
        stages.append(t_prev)
    # ONE action: per-stage user counts union into the funnel frame
    # (lazy all the way — no per-stage driver round trip)
    out = None
    for k, (step, frame) in enumerate(zip(steps, stages)):
        row = frame.agg(
            F.lit(k).cast("int").alias("step_index"),
            F.lit(step).alias("step"),
            F.count(F.lit(1)).cast("long").alias("users"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("step_index")


def funnel_conversion_sql(
    steps: tuple[str, ...] = ("view", "cart", "purchase"),
    within_days: float | None = None,
) -> str:
    ctes = [
        f"s0 AS (SELECT user_id, min(ts) AS t1, min(ts) AS t_prev\n"
        f"       FROM events WHERE event_type = '{steps[0]}' GROUP BY user_id)"
    ]
    for k, step in enumerate(steps[1:], start=1):
        bound = (
            f" AND epoch(e.ts) - epoch(p.t1) <= {within_days * 86400.0}"
            if within_days is not None
            else ""
        )
        ctes.append(
            f"s{k} AS (SELECT e.user_id, p.t1, min(e.ts) AS t_prev\n"
            f"       FROM events e JOIN s{k-1} p USING (user_id)\n"
            f"       WHERE e.event_type = '{step}' AND e.ts > p.t_prev{bound}\n"
            f"       GROUP BY e.user_id, p.t1)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {k} AS step_index, '{s}' AS step,"
        f" cast((SELECT count(*) FROM s{k}) AS BIGINT) AS users"
        for k, s in enumerate(steps)
    )
    return "WITH " + ",\n".join(ctes) + f"\n{selects}\nORDER BY step_index"
