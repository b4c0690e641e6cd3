"""As-of join semantics on hand-built rows and against pandas
``merge_asof``."""

from datetime import datetime, timedelta

from sales_analytics_etl_sql_powerbi_spark.operators.asof import (
    asof_backward,
    events_asof_directions,
)


def ts(m):
    return datetime(2024, 1, 1, 12, m)


def test_asof_backward_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 10, ts(5)), (2, 10, ts(10)), (3, 10, ts(1)), (4, 20, ts(9))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        # user 10: sources at :2 and :5 (equal-ts inclusive), user 20: none
        [(10, ts(2), 100, 1.0), (10, ts(5), 101, 2.0)],
        "user_id long, ts timestamp, src_event_id long, value double",
    )
    out = asof_backward(
        left, right, on="user_id", ts="ts",
        payload=("src_event_id", "value"), tiebreak="src_event_id",
    )
    got = {r.event_id: (r.asof_src_event_id, r.asof_value) for r in out.collect()}
    assert got[1] == (101, 2.0)  # equal timestamp is inclusive (<=)
    assert got[2] == (101, 2.0)  # latest prior, not just any prior
    assert got[3] == (None, None)  # nothing at-or-before
    assert got[4] == (None, None)  # key with no right rows


def test_asof_equal_ts_tiebreak_deterministic(spark):
    left = spark.createDataFrame(
        [(1, 5, ts(3))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(5, ts(3), 7, 1.0), (5, ts(3), 9, 2.0)],
        "user_id long, ts timestamp, src_event_id long, value double",
    )
    out = asof_backward(
        left, right, on="user_id", ts="ts",
        payload=("src_event_id", "value"), tiebreak="src_event_id",
    ).collect()
    assert (out[0].asof_src_event_id, out[0].asof_value) == (9, 2.0)  # max tb wins


def test_events_asof_shape(spark, sf_dir):
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    out = events_asof_directions(read_table(spark, sf_dir, "events"))
    rows = out.collect()
    assert len(rows) > 0
    assert out.columns == [
        "event_id", "user_id", "ts", "prior_view_id", "prior_view_value",
        "next_view_id", "next_view_value",
        "nearest_view_id", "nearest_view_value",
    ]
    for col in ("prior_view_id", "next_view_id", "nearest_view_id"):
        assert any(r[col] is not None for r in rows), col


def _pandas_oracle_frames():
    """Deterministic numeric-ts fixture with multiple keys, gaps, and
    rows before/after all matches; right ts distinct per key so pandas
    tie rules don't diverge from our tiebreak rule."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 40),
            "ts": np.sort(rng.choice(np.arange(0, 400, dtype=np.int64), 40, replace=False)).astype(float),
        }
    )
    left["lid"] = np.arange(40)
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 30),
            "ts": np.sort(rng.choice(np.arange(0, 400, dtype=np.int64), 30, replace=False)).astype(float),
        }
    )
    right["value"] = np.arange(30).astype(float) * 10
    right = right.drop_duplicates(subset=["k", "ts"])
    return left, right


def _merge_asof(left, right, direction, tolerance=None):
    import pandas as pd

    out = pd.merge_asof(
        left.sort_values(["ts", "lid"]),
        right.sort_values("ts"),
        on="ts",
        by="k",
        direction=direction,
        tolerance=tolerance,
    )
    return {int(r.lid): (None if pd.isna(r.value) else float(r.value)) for r in out.itertuples()}


def _spark_asof(spark, fn, left, right, **kw):
    l = spark.createDataFrame(left)
    r = spark.createDataFrame(right)
    out = fn(l, r, on="k", ts="ts", payload=("value",), **kw)
    return {int(row.lid): row.asof_value for row in out.collect()}


def _events_frame(spark, left, right):
    """The oracle frames as one events table: left rows are purchases
    (event_id = lid), right rows are views carrying ``value``; ``ts``
    counts seconds from a fixed instant."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (int(r.lid), int(r.k), t0 + timedelta(seconds=r.ts), "purchase", None)
        for r in left.itertuples()
    ]
    rows += [
        (1000 + i, int(r.k), t0 + timedelta(seconds=r.ts), "view", float(r.value))
        for i, r in enumerate(right.itertuples())
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )


def test_asof_directions_match_pandas_merge_asof(spark):
    import pandas as pd

    from sales_analytics_etl_sql_powerbi_spark.operators.asof import (
        asof_forward,
    )

    left, right = _pandas_oracle_frames()
    assert _spark_asof(spark, asof_backward, left, right) == _merge_asof(
        left, right, "backward"
    )
    assert _spark_asof(spark, asof_forward, left, right) == _merge_asof(
        left, right, "forward"
    )
    # nearest, through the events composition the gated query runs;
    # key 7 adds an exact tie: a purchase 5 s after one view and 5 s
    # before the next
    left = pd.concat([left, pd.DataFrame({"k": [7], "ts": [105.0], "lid": [99]})])
    right = pd.concat(
        [right, pd.DataFrame({"k": [7, 7], "ts": [100.0, 110.0], "value": [1.0, 2.0]})],
        ignore_index=True,
    )
    out = events_asof_directions(_events_frame(spark, left, right)).collect()
    got = {r.event_id: r.nearest_view_value for r in out}
    assert got == _merge_asof(left, right, "nearest")
    assert got[99] == 1.0  # the tie goes backward


def test_asof_tolerance_matches_pandas(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators.asof import (
        asof_forward,
    )

    left, right = _pandas_oracle_frames()
    for fn, direction in ((asof_backward, "backward"), (asof_forward, "forward")):
        got = _spark_asof(spark, fn, left, right, tolerance_seconds=25.0)
        want = _merge_asof(left, right, direction, tolerance=25.0)
        assert got == want, direction
