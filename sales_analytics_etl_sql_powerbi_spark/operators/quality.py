"""Post-transform validation checks — SURVEY §2.4 A2–A4/A10, §2.3 J6.

Reference sql/transformations/90_validation_checks.sql:17-48 — three
read-only acceptance queries run after the rules scripts, plus the
inline rowcount/non-null observability the ETL prints per step
(reference etl/order_info_etl.py:418-490, product_info_etl.py:336-344).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "expectations",
    "assert_expectations",
    "fk_violations",
    "profile_table",
    "sku_count_by_subcategory",
    "units_by_subcategory",
    "rowcounts",
    "observed",
    "observed_metrics",
]


def sku_count_by_subcategory(dim_product: DataFrame, category: str) -> DataFrame:
    """A2 — SKU distribution inside one category
    (reference 90_validation_checks.sql:17-24)."""
    return (
        dim_product.where(F.col("category") == category)
        .groupBy("subcategory")
        .agg(F.count("*").cast("long").alias("sku_count"))
        .orderBy(F.desc("sku_count"), "subcategory")
    )


def units_by_subcategory(fact: DataFrame, dim_product: DataFrame, category: str) -> DataFrame:
    """A3 + J6 — units sold per subcategory via the fact→dim join
    (reference 90_validation_checks.sql:27-35)."""
    return (
        fact.join(
            F.broadcast(dim_product.select("product_id", "category", "subcategory")),
            on="product_id",
        )
        .where(F.col("category") == category)
        .groupBy("subcategory")
        .agg(F.sum("units").cast("long").alias("units_sold"))
        .orderBy(F.desc("units_sold"), "subcategory")
    )


def rowcounts(frames: dict[str, DataFrame]) -> dict[str, int]:
    """A10 — per-stage rowcount observability
    (reference etl/order_info_etl.py:418,429,440,455,490).

    Each ``count()`` is its own job; use :func:`observed` to piggyback
    the counters on a job the pipeline already runs.
    """
    return {name: df.count() for name, df in frames.items()}


def observed(df: DataFrame, nonnull_cols: list[str] | None = None):
    """A10, zero-extra-pass flavor: attach observation metrics.

    ``DataFrame.observe`` rides the counters on whatever action the
    caller runs next — at 100 TB that is the difference between free
    observability and a second full scan per stage (the reference's
    per-step ``rowcount`` prints were free too: pyodbc returns them
    with the DML). Returns ``(df, observation)``; read the numbers
    with :func:`observed_metrics` after any action on ``df``.

    AQE corner (round 13, measured — PLAN_AUDIT): if the action's
    plan collapses to an empty relation at runtime (empty-relation
    propagation after an empty join/filter), the CollectMetrics node
    can be pruned and the observation completes with an EMPTY row —
    ``observed_metrics`` then raises rather than return wrong zeros.
    Callers that may hit that corner keep a cheap fallback aggregate
    (see ``corpus.observed_stage_counts`` / ``dedup.lsh_cap_audit``).
    """
    from pyspark.sql import Observation

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("row_count")]
    for c in nonnull_cols or []:
        metrics.append(F.count(c).alias(f"nonnull_{c}"))
    return df.observe(obs, *metrics), obs


def observation_metrics(obs) -> dict | None:
    """The observation's recorded metrics, or ``None`` if its
    CollectMetrics node was AQE-pruned (empty-relation propagation —
    the round-13 gotcha). Blocks until the observed frame's first
    action either way.

    Version-layered (round 14 — VERDICT r13 item 2 made the old
    ``_jo``-only probe loud-safe): the fast path reads the metrics-row
    length through the private ``Observation._jo`` handle (pinned
    pyspark 4.1: ``getRow()`` blocks exactly like ``.get``; a pruned
    node completes with an EMPTY schema-less row on which ``.get``
    itself raises inside ``toPyRow`` — measured, see the canary test).
    If the private handle is missing or renamed (pyspark upgrade,
    Spark Connect), we no longer silently assume non-empty: the
    portable path calls ``obs.get`` directly and maps BOTH plausible
    pruned-corner behaviors to ``None`` — a raise (current pyspark)
    or an empty dict (a future pyspark that fixes ``toPyRow``). An
    API change therefore degrades to the caller's documented fallback
    aggregate instead of the pre-r13 failure mode (riding read throws
    / counters lost). ``test_observation_probe_canary`` pins the
    private fast path on the pinned pyspark, so a version bump turns
    silent degradation into a red test.
    """
    probed = None
    try:
        probed = obs._jo.getRow().length() == 0
    except Exception:
        probed = None  # private API unavailable — use the portable path
    if probed is True:
        return None
    if probed is False:
        return dict(obs.get)
    try:
        vals = dict(obs.get)
    except Exception:
        return None  # pruned row: .get raises on this pyspark
    return vals or None


def observed_metrics(obs) -> dict[str, int]:
    """The metrics recorded by :func:`observed`'s observation on the
    frame's first completed action (blocks until one has run).

    Raises ``ValueError`` when the metrics node was AQE-pruned
    (ADVICE r13: the docstring contract said "raises rather than
    return wrong zeros" but the code silently returned ``{}`` —
    callers without a fallback aggregate must hear about the corner,
    not read empty metrics)."""
    vals = observation_metrics(obs)
    if vals is None:
        raise ValueError(
            "observed metrics unavailable: the CollectMetrics node was "
            "pruned by AQE empty-relation propagation (the observed "
            "plan emptied at runtime) — recompute the counters with an "
            "explicit aggregate for this corner"
        )
    return {k: int(v) for k, v in vals.items()}


def expectations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Data-quality expectation check: rule name → pass-condition Column.

    The generalization of the reference's `90_validation_checks.sql`
    fixed queries into a declarative engine: ALL rules evaluate in ONE
    aggregate pass over the frame (each is a `sum(when(violated, 1))`
    — map-side combinable, no per-rule scan). Returns one row per rule:
    (rule, violations, total, pass_rate), violation-heavy rules first.

    Rows where a rule's condition is NULL (e.g. a comparison on a NULL
    value) count as VIOLATIONS — an unknown is not a pass (the same
    posture as the reference's NOT-IN-list checks).
    """
    total = F.count(F.lit(1))
    # aliases are POSITIONAL (__v_0, __v_1, …): rule names are arbitrary
    # user strings — a dot or backtick in an alias breaks F.col parsing.
    # coalesce(sum, 0): over ZERO rows sum is NULL, and an empty batch
    # must read as vacuously clean, not crash the gate
    aggs = [total.alias("__total")]
    for i, cond in enumerate(rules.values()):
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)),
                F.lit(0),
            ).alias(f"__v_{i}")
        )
    row = df.agg(*aggs)
    # ONE aggregate + an explode of the rule structs — a per-rule union
    # would re-evaluate the aggregate (and rescan the data) per branch
    structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"__v_{i}").cast("long").alias("violations"),
            )
            for i, name in enumerate(rules)
        ]
    )
    return (
        row.select(F.col("__total"), F.explode(structs).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.violations").alias("violations"),
            F.col("__total").cast("long").alias("total"),
            F.when(
                F.col("__total") > 0,
                F.lit(1.0)
                - F.col("r.violations").cast("double")
                / F.col("__total").cast("double"),
            )
            .otherwise(F.lit(1.0))  # empty batch: vacuously clean
            .alias("pass_rate"),
        )
        .orderBy(F.desc("violations"), F.asc("rule"))
    )


def assert_expectations(df: DataFrame, rules: dict[str, Column]) -> None:
    """Gate form of :func:`expectations`: raise with the per-rule
    violation table when ANY rule has a violation. The load-job guard —
    fail the batch, keep the sink clean."""
    failed = [
        (r.rule, r.violations, r.total)
        for r in expectations(df, rules).collect()
        if r.violations > 0
    ]
    if failed:
        lines = "; ".join(f"{n}: {v}/{t} rows" for n, v, t in failed)
        raise AssertionError(f"data-quality expectations failed — {lines}")


def fk_violations(
    fact: DataFrame, dim: DataFrame, key: str | list[str]
) -> DataFrame:
    """Referential-integrity check: fact rows whose FK has no dim row.

    The join-shaped expectation :func:`expectations` can't express
    (aggregate rules see one frame): one LEFT ANTI join on the key —
    AQE broadcasts dim-sized sides, so the common case costs a fact
    scan + broadcast probe, no shuffle. Returns the orphan rows
    themselves (not a count) — the actionable artifact for a repair
    job like ``dims.upsert_missing``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    # SQL FK semantics: a NULL key is "no reference", not a violation —
    # only non-NULL keys must resolve (flag NULLs with a not-null
    # expectation instead if the column is mandatory)
    present = F.lit(True)
    for k in keys:
        present = present & fact[k].isNotNull()
    return fact.where(present).join(
        dim.select(*keys).distinct(), on=keys, how="left_anti"
    )


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-column profile in ONE aggregate pass: (column, dtype, n,
    nulls, approx_distinct, min, max, mean).

    The first thing run against an unknown table — nulls and
    cardinality drive key/join choices, min/max drive partition and
    Z-order choices. Every statistic for every column computes in the
    same map-side-combinable aggregate (approx distinct is the HLL++
    sketch — exact count-distinct per column would be a shuffle per
    column); min/max surface as strings so one long-form frame covers
    heterogeneous types; mean is NULL for non-numeric columns.
    """
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    numeric = {
        c
        for c in cols
        if dtypes[c]
        in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or dtypes[c].startswith("decimal")
    }
    # maps are neither orderable (min/max) nor hashable (HLL sketch) in
    # Spark — profile them as NULL rather than fail the whole table.
    # Backtick-quoted references so dotted column names resolve
    # literally instead of as struct-field paths.
    unorderable = {c for c in cols if dtypes[c].startswith("map<")}

    def qc(name: str):
        return F.col("`" + name.replace("`", "``") + "`")
    null_str = F.first(F.lit(None).cast("string"))
    null_dbl = F.first(F.lit(None).cast("double"))
    null_lng = F.first(F.lit(None).cast("long"))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        ordered = c not in unorderable
        aggs += [
            # count(col) ignores NULLs (and is 0 on empty input), so
            # nulls = n - count
            (F.count(F.lit(1)) - F.count(qc(c))).alias(f"__nu_{i}"),
            (
                F.approx_count_distinct(qc(c), rsd) if ordered else null_lng
            ).alias(f"__d_{i}"),
            (F.min(qc(c)).cast("string") if ordered else null_str).alias(
                f"__lo_{i}"
            ),
            (F.max(qc(c)).cast("string") if ordered else null_str).alias(
                f"__hi_{i}"
            ),
            (
                F.avg(qc(c).cast("double")) if c in numeric else null_dbl
            ).alias(f"__avg_{i}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col("__n").cast("long").alias("n"),
                F.col(f"__nu_{i}").cast("long").alias("nulls"),
                F.col(f"__d_{i}").cast("long").alias("approx_distinct"),
                F.col(f"__lo_{i}").alias("min"),
                F.col(f"__hi_{i}").alias("max"),
                F.col(f"__avg_{i}").alias("mean"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return row.select(F.explode(structs).alias("r")).select("r.*")


def freshness_check(
    df: DataFrame,
    ts_col: str,
    max_age_seconds: float,
    as_of: "str | None" = None,
) -> DataFrame:
    """Data-freshness check: is the newest row recent enough?

    The operational DQ signal the per-row expectations engine cannot
    express (it judges rows; freshness judges the TABLE against the
    clock). One max() aggregate → one row: (max_ts, age_seconds,
    fresh). ``as_of`` pins "now" (ISO timestamp string) for
    deterministic tests/backfills; the default reads the cluster
    clock. An EMPTY table is stale by definition (NULL max_ts,
    fresh=false) — silence is the failure freshness exists to catch.
    """
    now = (
        F.to_timestamp(F.lit(as_of))
        if as_of is not None
        else F.current_timestamp()
    )
    age = F.unix_micros(now) - F.unix_micros(F.max(F.col(ts_col)))
    return df.agg(
        F.max(F.col(ts_col)).alias("max_ts"),
        (age.cast("double") / F.lit(1_000_000.0)).alias("age_seconds"),
        F.coalesce(
            age <= F.lit(int(max_age_seconds * 1_000_000)), F.lit(False)
        ).alias("fresh"),
    )


def volume_drift_check(
    df: DataFrame,
    expected: float,
    tolerance: float = 0.2,
) -> DataFrame:
    """Volume-anomaly check: row count vs an expected baseline.

    The second table-level signal (a load that silently delivered half
    the rows passes every per-row rule). ``expected`` typically comes
    from the previous loads' counts (their mean or median — the caller
    owns the baseline policy, this op owns the comparison). Returns
    one row: (row_count, expected, ratio, within), where ``within`` =
    ratio ∈ [1−tolerance, 1+tolerance]. ``expected <= 0`` raises —
    there is no meaningful ratio against an empty baseline.
    """
    if expected <= 0:
        raise ValueError("expected must be > 0 (no baseline, no drift check)")
    n = F.count(F.lit(1)).cast("long")
    ratio = n.cast("double") / F.lit(float(expected))
    return df.agg(
        n.alias("row_count"),
        F.lit(float(expected)).alias("expected"),
        ratio.alias("ratio"),
        (
            (ratio >= F.lit(1.0 - tolerance)) & (ratio <= F.lit(1.0 + tolerance))
        ).alias("within"),
    )
