"""Event-time windowed aggregation + dedup over the ``events`` stream.

The reference is pure batch (SURVEY §2.9) — this module is the
beyond-reference Structured Streaming surface. Every transformation is
defined once over a DataFrame and works identically on a batch frame
and a ``readStream`` frame (Spark's unified model); the batch route is
what the DuckDB oracle checks, the streaming route is smoke-tested
with ``trigger(availableNow=True)`` in tests/test_streaming.py.

Late data: a 10-minute watermark bounds state for the windowed aggs
and for ``dropDuplicatesWithinWatermark``; at cluster scale, state
lives in the checkpointed state store (RocksDB provider in prod).

The DuckDB twins express the same windows relationally:
tumbling = date_trunc bucketing; sliding = union of the two
alignments; session = gaps-and-islands with a lag().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "enrich_with_dim",
    "tumbling_counts",
    "sliding_counts",
    "session_windows",
    "dedup_within_watermark",
    "running_totals_stateful",
    "view_purchase_interval_join",
    "TUMBLING_SQL",
    "SLIDING_SQL",
    "SESSION_SQL",
    "RUNNING_TOTALS_SQL",
]


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window: counts + exact value sum per type."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "sum_value",
        )
    )


TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(1) AS event_count,
       cast(sum(cast(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding window (1h window, 30m slide): each event lands in two
    overlapping windows."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("w.start").alias("window_start"), "event_type", "event_count")
    )


# two alignments = floor to 30min, and that minus 30min.
# make_timestamp(µs) keeps the value a naive TIMESTAMP — to_timestamp()
# would return TIMESTAMPTZ and break hash parity with Spark.
SLIDING_SQL = """
WITH halves AS (
  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS w30,
         event_type FROM events
)
SELECT window_start, event_type, count(1) AS event_count FROM (
  SELECT w30 AS window_start, event_type FROM halves
  UNION ALL
  SELECT w30 - INTERVAL 30 MINUTE AS window_start, event_type FROM halves
) both_windows
GROUP BY 1, 2
"""


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows (5-minute inactivity gap).

    Streaming: ``session_window`` with watermark. Batch twin gives the
    oracle the gaps-and-islands equivalent.
    """
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
            "sum_value",
        )
    )


# gaps-and-islands: new session when gap is STRICTLY > 5 min;
# session_end = last_ts + gap. The strict inequality is Spark's
# session_window semantics (verified live, pinned by
# test_session_window_exact_gap_boundary): an event landing exactly at
# the previous session's end (gap == 5 min) MERGES — Spark coalesces
# adjacent sessions, not just overlapping ones. The r14 twin used >=
# here (exclusive end ⇒ new session on an exact-gap event), which the
# round-15 window-family fuzz falsified — the gate corpus never
# carries an exact-300.000000s same-user gap, so only the simulator
# caught it.
SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 5 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessioned AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end,
       count(1) AS event_count,
       cast(sum(cast(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM sessioned
GROUP BY user_id, session_no
"""


def dedup_within_watermark(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming dedup: drop repeats of ``keys`` within the watermark.

    On a stream this is ``dropDuplicatesWithinWatermark`` (bounded
    state); on a batch frame it degrades to plain dropDuplicates —
    same visible semantics when all data fits one batch.
    """
    keys = keys or ["event_id"]
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    if src.isStreaming:
        return src.dropDuplicatesWithinWatermark(keys)
    return src.dropDuplicates(keys)


def running_totals_stateful(events: DataFrame, timeout_minutes: int = 30) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum.

    ``applyInPandasWithState`` — the escape hatch for stateful logic the
    built-in windows can't express (cross-batch accumulators, custom
    timeouts). State per user_id: (event_count, value_sum); processing-
    time timeout evicts idle users so state stays bounded. On a batch
    frame the same semantics degrade to a plain groupBy aggregate —
    that relational twin is what the DuckDB oracle checks
    (RUNNING_TOTALS_SQL).

    Operational gotcha (measured, round 5): with ProcessingTimeTimeout
    an ``availableNow`` run does NOT terminate when the input is
    drained — Spark keeps scheduling EMPTY micro-batches (~1.5s each)
    until every pending timeout fires, i.e. up to ``timeout_minutes``
    of idle spinning. Finite jobs should stop the query once progress
    reports zero input rows — :func:`sales_analytics_etl_sql_powerbi_spark.streaming.sinks.drain_available_now`
    does exactly that — or pass a small ``timeout_minutes``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, event_count bigint, value_sum double"
    )
    state_schema = "event_count bigint, value_sum double"

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [user_id], "event_count": [count], "value_sum": [total]}
        )

    if events.isStreaming:
        return events.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    # batch twin: identical observable result for a single batch
    # (decimal sum — exact in both engines regardless of add order)
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("event_count"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
    )


RUNNING_TOTALS_SQL = """
SELECT user_id, count(1) AS event_count,
       cast(sum(cast(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY user_id
"""


def view_purchase_interval_join(
    events: DataFrame, lookback: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join: purchases × same-user views within
    the preceding ``lookback`` window.

    The streaming twin of the batch as-of/funnel analysis
    (operators/asof.py): every (purchase, view) pair with
    ``view.ts ∈ [purchase.ts − lookback, purchase.ts]``. Spark only
    admits stream-stream INNER joins whose condition bounds event time
    on both sides — equi-join on ``user_id`` plus the ts interval is
    exactly that shape, so each side's join state is evicted once the
    watermark passes ``lookback + watermark``; state is
    O(users-active-in-window), never unbounded.

    Defined ONCE over DataFrames: on batch frames the same expression
    runs as an ordinary range-bounded equi-join (the oracle-checkable
    route, and what the parity test pins); on streams both sides get
    event-time watermarks first.

    Output: one row per qualifying pair (purchase_id, user_id,
    purchase_ts, view_id, view_ts, gap_seconds) — aggregate downstream
    per purchase if attribution wants counts/latest (kept separate:
    chaining another stateful op after a stream-stream join is
    restricted in Spark's streaming model).
    """
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user_id"),
        F.col("ts").alias("view_ts"),
    )
    if events.isStreaming:
        purchases = purchases.withWatermark("purchase_ts", watermark)
        views = views.withWatermark("view_ts", watermark)
    cond = (
        (purchases.user_id == views.view_user_id)
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")
        )
    )
    # gap via integer microseconds then one divide: casting each ts to
    # double first loses sub-µs exactness (ulp at 1.7e9 s ≈ 5e-7 s),
    # which would flake any cross-engine value comparison
    gap_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts"))
    return purchases.join(views, cond, "inner").select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "view_id",
        "view_ts",
        (gap_us.cast("double") / F.lit(1_000_000.0)).alias("gap_seconds"),
    )


def enrich_with_dim(
    stream_df: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dim enrichment — the most common streaming join.

    Spark re-evaluates the STATIC side per micro-batch (so a dim
    rebuilt between batches is picked up on the next one); with
    ``broadcast_dim`` the dim ships to executors once per batch and
    the stream side never shuffles — the same no-fact-exchange
    discipline as the batch star. Works identically on batch frames
    (the oracle-checkable route: the reporting view IS this join
    pattern). Stream-static supports inner and left-outer with the
    stream on the left; anything else raises in Spark itself.

    At 100 TB-of-stream: keep dims under the broadcast threshold or
    pre-bucket both sides; a dim too big to broadcast turns each
    micro-batch into a shuffle join — at that point the dim belongs in
    a key-value store looked up from ``foreachBatch`` instead.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream_df.join(d, on=on, how=how)
