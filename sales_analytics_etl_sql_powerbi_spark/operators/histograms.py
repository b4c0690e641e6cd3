"""Mergeable fixed-bin histograms → approximate quantiles.

The recurring incremental-aggregate need: percentiles over a growing
fact history. ``percentile()``/``approx_percentile`` answer one query
over one frame; at 100 TB the question is "p95 per group, updated per
load, WITHOUT re-scanning history" — and unlike an HLL sketch, a
fixed-bin histogram merges EXACTLY (vector addition), so rollups are
bit-deterministic in any order.

Shape: the histogram build is a TWO-STAGE NARROW aggregation — a
plain map-side-combined count per (group, bin-index) whose per-row
cost does not grow with ``n_bins``, then the tiny
(groups × ≤n_bins+3)-row result packs into the array via a map
lookup. (The one-stage alternative — n_bins sum columns — puts
n_bins comparisons in the per-row codegen loop: measured 3× slower
at 10M rows × 256 bins, PLAN_AUDIT round 6.) Merging adds count
vectors; quantile estimation runs over the (groups × bins)-sized
histogram table, never the raw data.

Error contract: a quantile estimate lands within one bin width of the
true value (linear interpolation inside the bin); values outside
[lo, hi) are COUNTED (``n_under``/``n_over``) but excluded from
interpolation — pick bounds from domain knowledge or a first-load
min/max, and widen bins rather than silently clipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "histogram_table",
    "merge_histogram_tables",
    "quantile_estimate",
    "global_histogram_quantiles_sql",
]


def histogram_table(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Per-group fixed-bin histogram of ``value_col`` over [lo, hi).

    Output: group cols + ``bins`` (array<long>, length ``n_bins``) +
    ``n_under``/``n_over``/``n_null`` + ``lo``/``hi`` (carried so
    merge/estimate can validate compatibility).

    Build shape: TWO-STAGE NARROW aggregation — count per (group,
    bin-index) first (a plain map-side-combined count whose cost does
    NOT grow with n_bins), then pack the (groups × ≤n_bins+3)-row
    result into the array via a map lookup. The obvious one-stage
    alternative (n_bins sum columns) puts n_bins comparisons into the
    per-row codegen loop — measured 6.9s vs 2.3s at 10M rows × 256
    bins (PLAN_AUDIT round 6).
    """
    if not lo < hi:
        raise ValueError("need lo < hi")
    if not 1 <= n_bins <= 4096:
        raise ValueError("n_bins out of range (1..4096)")
    v = F.col(value_col).cast("double")
    width = (hi - lo) / n_bins
    # clamp to the last bin: with a non-representable width, the
    # largest double below hi can compute floor((v-lo)/width) == n_bins
    # (verified: lo=0, hi=1, n_bins=3, v=nextafter(1,0)) — without the
    # clamp that IN-RANGE row would vanish from bins AND n_over,
    # breaking the total-accounting contract. Sentinel bins −1/−2/−3
    # carry under/over/null so ONE count covers the whole accounting.
    b = (
        F.when(v.isNull(), F.lit(-3))
        .when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(-2))
        .otherwise(
            F.least(
                F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int"),
                F.lit(n_bins - 1),
            )
        )
    )
    counts = df.groupBy(*group_cols, b.alias("__bin")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # ONE collect_list of (bin, cnt) structs — two parallel
    # collect_lists would rely on element alignment across aggregate
    # buffers, an ordering Spark does not guarantee; the struct pairs
    # atomically, and map order is irrelevant (lookup by key)
    m = F.map_from_entries(F.collect_list(F.struct("__bin", "__cnt")))
    packed = counts.groupBy(*group_cols).agg(m.alias("__m"))
    return packed.select(
        *group_cols,
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bins - 1)),
            lambda i: F.coalesce(F.element_at("__m", i), F.lit(0).cast("long")),
        ).alias("bins"),
        F.coalesce(F.element_at("__m", F.lit(-1)), F.lit(0).cast("long")).alias(
            "n_under"
        ),
        F.coalesce(F.element_at("__m", F.lit(-2)), F.lit(0).cast("long")).alias(
            "n_over"
        ),
        F.coalesce(F.element_at("__m", F.lit(-3)), F.lit(0).cast("long")).alias(
            "n_null"
        ),
        F.lit(float(lo)).alias("lo"),
        F.lit(float(hi)).alias("hi"),
    )


def merge_histogram_tables(
    parts: list[DataFrame], group_cols: list[str]
) -> DataFrame:
    """EXACT merge (element-wise vector add) of histogram tables —
    bit-deterministic in any order, unlike HLL union. Parts must share
    [lo, hi) and bin count; violations raise ``ValueError`` EAGERLY
    (one tiny one-row aggregate job over the parts, the scd2_apply
    strict pattern) — the previously-lazy ``raise_error`` riding the
    ``lo`` column was PRUNED whenever a consumer never read ``lo``
    (e.g. ``select('bins')`` then sum), silently merging incompatible
    parts. Cost: the check job re-runs the part builds when parts are
    lazy raw-data derivations; in the incremental use case (parts read
    from stored histogram tables — the point of a mergeable sketch)
    it is a metadata-cheap scan of (groups × 1)-sized frames."""
    if not parts:
        raise ValueError("merge_histogram_tables needs at least one part")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    lo_min, lo_max, hi_min, hi_max, nb_min, nb_max = u.agg(
        F.min("lo"),
        F.max("lo"),
        F.min("hi"),
        F.max("hi"),
        F.min(F.size("bins")),
        F.max(F.size("bins")),
    ).collect()[0]
    # incompatible parts must fail loudly, not silently mis-bin
    # (zip_with null-pads a shorter array, poisoning the fold)
    if lo_min != lo_max or hi_min != hi_max or nb_min != nb_max:
        raise ValueError(
            "merge_histogram_tables: parts disagree on [lo, hi) bounds "
            f"or bin count (lo {lo_min}..{lo_max}, hi {hi_min}..{hi_max}, "
            f"n_bins {nb_min}..{nb_max})"
        )
    return u.groupBy(*group_cols).agg(
        F.aggregate(
            F.collect_list("bins"),
            F.array_repeat(F.lit(0).cast("long"), F.size(F.first("bins"))),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("bins"),
        F.sum("n_under").alias("n_under"),
        F.sum("n_over").alias("n_over"),
        F.sum("n_null").alias("n_null"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
    )


def quantile_estimate(
    hist: DataFrame, group_cols: list[str], qs: list[float]
) -> DataFrame:
    """Per-group quantiles from a histogram table.

    For each requested ``q``: find the bin holding the ceil(q·total)-th
    in-range value (cumulative count walk) and interpolate linearly
    inside it — error ≤ one bin width. Runs entirely over the
    (groups × bins)-sized table: posexplode + a per-group window whose
    partitions are ``n_bins`` rows (bounded by construction — this is
    NOT a window over raw data). Out-of-range mass (``n_under``/
    ``n_over``) is excluded from interpolation; groups with zero
    in-range values yield NULL.

    Output: group cols + q + quantile.
    """
    if not qs or any(not 0 < q <= 1 for q in qs):
        raise ValueError("qs must be in (0, 1]")
    e = hist.select(
        *group_cols,
        "lo",
        "hi",
        F.size("bins").alias("__nb"),
        F.posexplode("bins").alias("__bin", "__cnt"),
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    e = e.withColumn("__cum", F.sum("__cnt").over(wcum)).withColumn(
        "__total", F.sum("__cnt").over(wtot)
    )
    qarr = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    width = (F.col("hi") - F.col("lo")) / F.col("__nb")
    target = F.ceil(F.col("q") * F.col("__total"))
    picked = (
        e.select(*group_cols, "lo", "hi", "__nb", "__bin", "__cnt", "__cum", "__total", qarr)
        .where(
            (F.col("__total") > 0)
            & (F.col("__cnt") > 0)
            & (F.col("__cum") >= target)
            & ((F.col("__cum") - F.col("__cnt")) < target)
        )
        .select(
            *group_cols,
            "q",
            (
                F.col("lo")
                + width
                * (
                    F.col("__bin").cast("double")
                    + (target - (F.col("__cum") - F.col("__cnt")))
                    .cast("double")
                    / F.col("__cnt").cast("double")
                )
            ).alias("quantile"),
        )
    )
    # groups whose in-range mass is zero: emit NULL rows so the caller
    # sees the group rather than silently losing it
    empty = (
        hist.select(*group_cols, F.aggregate("bins", F.lit(0).cast("long"), lambda a, x: a + x).alias("__t"))
        .where(F.col("__t") == 0)
        .select(
            *group_cols,
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
            F.lit(None).cast("double").alias("quantile"),
        )
    )
    return picked.unionByName(empty)


def global_histogram_quantiles_sql(
    value_expr: str,
    source: str,
    lo: float,
    hi: float,
    n_bins: int,
    qs: list[float],
) -> str:
    """DuckDB twin of the global (no-group) histogram build +
    quantile estimate — the hash gate for the deterministic histogram
    path (build, exact merge, interpolation).

    The twin computes the DIRECT histogram; a Spark side that builds
    split parts and merges them agrees only if the merge is exact —
    so one hash covers build + merge + estimate. Emits two
    discriminated parts: ``histmeta`` (in-range/under/over counts)
    and ``hist`` (one row per q with the interpolated quantile).

    FP-parity contract (why the values hash-match bit-for-bit): the
    interpolation is written with the SAME operand order and types as
    :func:`quantile_estimate` — ``lo + ((hi−lo)/n_bins) · (bin +
    (target − cumprev)/cnt)`` with integer target/cum/cnt cast to
    double only at the division — and callers should pick bounds
    whose bin width is exactly representable (a power of two) so the
    width term itself carries no rounding.
    """
    flo, fhi = float(lo), float(hi)
    width = (fhi - flo) / n_bins
    # every numeric literal is cast to DOUBLE: DuckDB parses bare
    # decimal literals as exact DECIMALs, whose arithmetic can diverge
    # from the Spark side's IEEE doubles (same rule as pagerank_sql)
    dlo = f"cast({flo!r} AS DOUBLE)"
    dhi = f"cast({fhi!r} AS DOUBLE)"
    dwidth = f"cast({width!r} AS DOUBLE)"
    qlist = ", ".join(f"cast({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
WITH vals AS (SELECT cast({value_expr} AS DOUBLE) AS v FROM {source}),
binned AS (
  SELECT CASE WHEN v < {dlo} THEN -1
              WHEN v >= {dhi} THEN -2
              ELSE least(cast(floor((v - {dlo}) / {dwidth}) AS INT), {n_bins - 1})
         END AS b
  FROM vals WHERE v IS NOT NULL
),
counts AS (SELECT b, count(1) AS c FROM binned WHERE b >= 0 GROUP BY b),
meta AS (
  SELECT coalesce((SELECT sum(c) FROM counts), 0) AS total,
         (SELECT count(1) FROM binned WHERE b = -1) AS under,
         (SELECT count(1) FROM binned WHERE b = -2) AS over
),
cum AS (
  SELECT b, c,
         sum(c) OVER (ORDER BY b) AS cum,
         sum(c) OVER () AS total
  FROM counts
),
qq AS (SELECT unnest([{qlist}]) AS q),
hist AS (
  SELECT qq.q,
         {dlo} + (({dhi} - {dlo}) / {n_bins}) *
           (cast(cum.b AS DOUBLE)
            + cast(cast(ceil(qq.q * cum.total) AS BIGINT) - cum.cum + cum.c AS DOUBLE)
              / cast(cum.c AS DOUBLE)) AS quantile
  FROM qq JOIN cum
    ON cum.total > 0 AND cum.c > 0
   AND cum.cum >= cast(ceil(qq.q * cum.total) AS BIGINT)
   AND cum.cum - cum.c < cast(ceil(qq.q * cum.total) AS BIGINT)
)
SELECT 'histmeta' AS part, cast(NULL AS DOUBLE) AS q,
       cast(NULL AS DOUBLE) AS quantile,
       cast(total AS BIGINT) AS n_docs,
       cast(under AS BIGINT) AS n_under, cast(over AS BIGINT) AS n_over
FROM meta
UNION ALL
SELECT 'hist', q, quantile, NULL, NULL, NULL FROM hist
"""
