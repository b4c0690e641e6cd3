"""As-of joins — a custom operator family Spark lacks natively.

``asof_backward(left, right, ...)``: each left row picks the most
recent right row with ``right.ts <= left.ts`` per key — the
time-series enrichment join (kdb ``aj``, pandas ``merge_asof``,
Flink temporal join). The naive formulation is a range join whose
candidate set explodes quadratically per key; this implementation is
the scalable shape:

1. union both sides with a side tag (right rows carry their payload,
   left rows carry NULLs);
2. ONE shuffle: window over (key) ordered by (ts, side, tiebreak) —
   right rows sort before left rows at equal ts, so ``<=`` is
   inclusive, and the tiebreak column makes equal-timestamp right rows
   deterministic;
3. ``last(payload, ignorenulls=True)`` over ROWS UNBOUNDED
   PRECEDING..CURRENT carries the latest right payload forward;
4. keep the left rows.

Cost: one hash exchange + one sort per side — same as a groupBy, with
none of the range-join blowup; at 100 TB the key partitioning spreads
users/instruments across executors and AQE handles skewed keys. The
DuckDB twin uses the identical window formulation (portable SQL — not
DuckDB's ASOF JOIN, whose equal-timestamp winner is unspecified), so
results hash-match bit-for-bit.

``asof_forward`` is the mirror (earliest right at-or-after, same
one-shuffle shape); ``events_asof_directions`` composes both and
picks the closer match per row (ties → backward, pandas semantics).
Both directions take ``tolerance_seconds`` — matches farther than the
tolerance in time are nulled out, pandas ``merge_asof(tolerance=...)``
semantics — applied as a post-projection on the carried match
timestamp, so the plan shape (and its single shuffle) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "asof_backward",
    "asof_forward",
    "events_asof_directions",
    "events_asof_directions_sql",
]


def _ts_num(col: Column) -> Column:
    """Timestamp-or-numeric → seconds as double (timestamp cast keeps
    sub-second precision in Spark)."""
    return col.cast("double")


def _prefer_backward(b_ts: Column, f_ts: Column, ts: Column) -> Column:
    """The nearest-side chooser of :func:`events_asof_directions`: ties
    go backward, and a NULL side loses to a non-NULL side."""
    d_b = _ts_num(ts) - _ts_num(b_ts)
    d_f = _ts_num(f_ts) - _ts_num(ts)
    return F.when(b_ts.isNull(), F.lit(False)).otherwise(
        f_ts.isNull() | (d_b <= d_f)
    )


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    payload: tuple[str, ...],
    tiebreak: str,
    left_side: int,
) -> tuple[DataFrame, list[str]]:
    """Union with side tag; right rows carry payload + their own ts
    (``__p___ts``) so tolerance can see how far the match is."""
    lcols = left.columns
    l = left.select(
        *lcols,
        F.lit(left_side).alias("__side"),
        F.lit(None).cast(right.schema[tiebreak].dataType).alias("__tb"),
        F.lit(None).cast(right.schema[ts].dataType).alias("__p___ts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}")
            for c in payload
        ],
    )
    r = right.select(
        *[
            F.col(c)
            if c in (on, ts)
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.lit(1 - left_side).alias("__side"),
        F.col(tiebreak).alias("__tb"),
        F.col(ts).alias("__p___ts"),
        *[F.col(c).alias(f"__p_{c}") for c in payload],
    )
    return l.unionByName(r), lcols


def _apply_tolerance(
    out: DataFrame,
    ts: str,
    payload: tuple[str, ...],
    tolerance_seconds: float | None,
    prefix: str = "asof_",
) -> DataFrame:
    """Null out matches farther than the tolerance, IN PLACE.

    Each ``asof_*`` payload column is substituted at its original
    position (not re-appended at the end), so the output column order
    is identical between tolerance and no-tolerance calls — downstream
    schema/hash comparisons that include column order can't diverge on
    this knob alone.
    """
    within = (
        F.abs(_ts_num(F.col(ts)) - _ts_num(F.col(f"{prefix}__ts")))
        <= F.lit(float(tolerance_seconds))
    )
    masked = {f"{prefix}{c}" for c in payload}
    return out.select(
        *[
            F.when(within, F.col(c)).alias(c) if c in masked else F.col(c)
            for c in out.columns
            if c != f"{prefix}__ts"
        ]
    )


def asof_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    payload: tuple[str, ...] = ("value",),
    tiebreak: str | None = None,
    tolerance_seconds: float | None = None,
    _keep_match_ts: bool = False,
) -> DataFrame:
    """Left rows + the latest right payload at-or-before their ts.

    ``payload`` columns arrive prefixed ``asof_``; left rows with no
    prior right row get NULLs (left-join semantics). ``tiebreak``
    (default: first payload column) orders equal-timestamp right rows
    deterministically — the LAST one in (ts, tiebreak) order wins.
    ``tolerance_seconds`` nulls matches older than the tolerance
    (pandas ``merge_asof`` semantics), as a post-projection — the
    single-shuffle plan is unchanged.
    """
    tiebreak = tiebreak or payload[0]
    u, lcols = _tagged_union(left, right, on, ts, payload, tiebreak, left_side=1)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__side").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(f"__p_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
        for c in payload
    ]
    match_ts = F.last("__p___ts", ignorenulls=True).over(w).alias("asof___ts")
    out = (
        u.select(*lcols, "__side", match_ts, *carried)
        .where(F.col("__side") == 1)
        .drop("__side")
    )
    if tolerance_seconds is not None:
        return _apply_tolerance(out, ts, payload, tolerance_seconds)
    return out if _keep_match_ts else out.drop("asof___ts")


def asof_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    payload: tuple[str, ...] = ("value",),
    tiebreak: str | None = None,
    tolerance_seconds: float | None = None,
    _keep_match_ts: bool = False,
) -> DataFrame:
    """Left rows + the EARLIEST right payload at-or-after their ts.

    The mirror of :func:`asof_backward` — same union + one-shuffle
    window, but left rows sort BEFORE right rows at equal ts (so
    ``>=`` stays inclusive) and the frame looks forward
    (CURRENT..UNBOUNDED FOLLOWING, ``first`` instead of ``last``).
    Among equal-timestamp right rows the FIRST in (ts, tiebreak)
    order wins.
    """
    tiebreak = tiebreak or payload[0]
    u, lcols = _tagged_union(left, right, on, ts, payload, tiebreak, left_side=0)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__side").asc(), F.col("__tb").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = [
        F.first(f"__p_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
        for c in payload
    ]
    match_ts = F.first("__p___ts", ignorenulls=True).over(w).alias("asof___ts")
    out = (
        u.select(*lcols, "__side", match_ts, *carried)
        .where(F.col("__side") == 0)
        .drop("__side")
    )
    if tolerance_seconds is not None:
        return _apply_tolerance(out, ts, payload, tolerance_seconds)
    return out if _keep_match_ts else out.drop("asof___ts")


def events_asof_directions(events: DataFrame) -> DataFrame:
    """All three as-of directions in one funnel frame per purchase:
    latest prior view, earliest next view, and the nearest of the two.

    Driver-gate composition for the full as-of family (backward /
    forward / nearest share one result so one oracle hash covers all
    three): two one-shuffle as-of windows + an event_id equi-join +
    the nearest chooser (ties → backward, pandas semantics).
    """
    anchors = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    sources = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("src_event_id"), "value"
    )
    b = asof_backward(
        anchors,
        sources,
        on="user_id",
        ts="ts",
        payload=("src_event_id", "value"),
        tiebreak="src_event_id",
        _keep_match_ts=True,
    )
    f = asof_forward(
        anchors,
        sources,
        on="user_id",
        ts="ts",
        payload=("src_event_id", "value"),
        tiebreak="src_event_id",
        _keep_match_ts=True,
    ).select(
        F.col("event_id"),
        F.col("asof___ts").alias("__f___ts"),
        F.col("asof_src_event_id").alias("__f_id"),
        F.col("asof_value").alias("__f_value"),
    )
    j = b.join(f, "event_id")
    use_b = _prefer_backward(
        F.col("asof___ts"), F.col("__f___ts"), F.col("ts")
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_src_event_id").alias("prior_view_id"),
        F.col("asof_value").alias("prior_view_value"),
        F.col("__f_id").alias("next_view_id"),
        F.col("__f_value").alias("next_view_value"),
        F.when(use_b, F.col("asof_src_event_id"))
        .otherwise(F.col("__f_id"))
        .alias("nearest_view_id"),
        F.when(use_b, F.col("asof_value"))
        .otherwise(F.col("__f_value"))
        .alias("nearest_view_value"),
    ).orderBy("event_id")


def events_asof_directions_sql() -> str:
    """Twin: the SAME union carries both directions' side orders; two
    WINDOW clauses (backward frame / forward frame) + the chooser."""
    return """
WITH u AS (
  SELECT event_id, user_id, ts, 1 AS side_b, 0 AS side_f,
         NULL::BIGINT AS tb, NULL::BIGINT AS p_id, NULL::DOUBLE AS p_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT NULL::BIGINT, user_id, ts, 0 AS side_b, 1 AS side_f,
         event_id AS tb, event_id AS p_id, value AS p_value
  FROM events WHERE event_type = 'view'
),
carried AS (
  SELECT *,
         last_value(p_id IGNORE NULLS) OVER wb AS prior_view_id,
         last_value(p_value IGNORE NULLS) OVER wb AS prior_view_value,
         last_value(CASE WHEN side_b = 0 THEN ts END IGNORE NULLS)
           OVER wb AS prior_ts,
         first_value(p_id IGNORE NULLS) OVER wf AS next_view_id,
         first_value(p_value IGNORE NULLS) OVER wf AS next_view_value,
         first_value(CASE WHEN side_f = 1 THEN ts END IGNORE NULLS)
           OVER wf AS next_ts
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY ts ASC, side_b ASC, tb ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY ts ASC, side_f ASC, tb ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, ts, prior_view_id, prior_view_value,
       next_view_id, next_view_value,
       CASE WHEN prior_ts IS NULL THEN next_view_id
            WHEN next_ts IS NULL
                 OR (epoch(ts) - epoch(prior_ts))
                    <= (epoch(next_ts) - epoch(ts)) THEN prior_view_id
            ELSE next_view_id END AS nearest_view_id,
       CASE WHEN prior_ts IS NULL THEN next_view_value
            WHEN next_ts IS NULL
                 OR (epoch(ts) - epoch(prior_ts))
                    <= (epoch(next_ts) - epoch(ts)) THEN prior_view_value
            ELSE next_view_value END AS nearest_view_value
FROM carried WHERE side_b = 1
ORDER BY event_id
"""
