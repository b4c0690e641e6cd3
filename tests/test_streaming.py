"""Structured Streaming smoke: batch/stream parity via availableNow."""

import datetime

import pytest

from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double"


from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
    drain_available_now as drain_stateful,
)


def events_rows():
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                t0 + datetime.timedelta(minutes=7 * i),
                i % 3,
                "click" if i % 2 == 0 else "view",
                float(i),
            )
        )
    # duplicate event ids for dedup
    rows.append((0, t0 + datetime.timedelta(minutes=1), 0, "click", 0.0))
    return rows


def test_tumbling_batch(spark):
    df = spark.createDataFrame(events_rows(), EVENTS)
    out = W.tumbling_counts(df).collect()
    assert sum(r.event_count for r in out) == 41
    starts = {r.window_start.minute for r in out}
    assert starts == {0}  # hour-aligned


def test_session_windows_gap(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "a", 1.0),
        (2, t0 + datetime.timedelta(minutes=2), 7, "a", 1.0),
        (3, t0 + datetime.timedelta(minutes=30), 7, "a", 1.0),  # new session
    ]
    df = spark.createDataFrame(rows, EVENTS)
    out = sorted(W.session_windows(df).collect(), key=lambda r: r.session_start)
    assert len(out) == 2
    assert out[0].event_count == 2
    # session_window end = last event + gap
    assert out[0].session_end == t0 + datetime.timedelta(minutes=2 + 5)


def test_session_window_exact_gap_boundary(spark):
    """An event landing EXACTLY gap after the previous one merges into
    the same session — Spark's session_window coalesces adjacent
    sessions (strict > starts a new one). Found by the round-15 window
    fuzz: the r14 DuckDB twin used >= (new session on an exact-gap
    event) and diverged on this shape; both engines must agree here.
    """
    import duckdb

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "a", 1.0),
        (2, t0 + datetime.timedelta(minutes=5), 7, "a", 1.0),  # == gap: merge
        (3, t0 + datetime.timedelta(minutes=10, seconds=1), 7, "a", 1.0),  # > gap
    ]
    df = spark.createDataFrame(rows, EVENTS)
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.event_count)
        for r in W.session_windows(df).collect()
    )
    assert got == [
        (7, t0, t0 + datetime.timedelta(minutes=10), 2),
        (
            7,
            t0 + datetime.timedelta(minutes=10, seconds=1),
            t0 + datetime.timedelta(minutes=15, seconds=1),
            1,
        ),
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    want = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.execute(W.SESSION_SQL).fetchall()
    )
    assert got == want


def test_dedup_batch(spark):
    df = spark.createDataFrame(events_rows(), EVENTS)
    assert W.dedup_within_watermark(df, ["event_id"]).count() == 40


def test_streaming_matches_batch(spark, tmp_path):
    df = spark.createDataFrame(events_rows(), EVENTS)
    src = str(tmp_path / "events_src")
    df.write.parquet(src)

    stream = spark.readStream.schema(EVENTS).parquet(src)
    agg = W.tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.event_count, r.sum_value)
        for r in spark.table("t_stream_out").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.event_count, r.sum_value)
        for r in W.tumbling_counts(df).collect()
    }
    assert got == want


def test_streaming_dedup_within_watermark(spark, tmp_path):
    df = spark.createDataFrame(events_rows(), EVENTS)
    src = str(tmp_path / "dedup_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(EVENTS).parquet(src)
    out = W.dedup_within_watermark(stream, ["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("t_dedup_out").count() == 40


def test_running_totals_stateful_stream(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    batch1 = [(1, t0, 7, "a", 2.0), (2, t0, 7, "a", 3.0), (3, t0, 8, "a", 1.0)]
    batch2 = [(4, t0, 7, "a", 5.0)]
    src = str(tmp_path / "stateful_src")
    spark.createDataFrame(batch1, EVENTS).write.mode("append").parquet(src)

    stream = spark.readStream.schema(EVENTS).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = W.running_totals_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_state_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    drain_stateful(q)
    first = {
        r.user_id: (r.event_count, r.value_sum)
        for r in spark.table("t_state_out").collect()
    }
    assert first[7] == (2, 5.0) and first[8] == (1, 1.0)

    # second batch continues from stored state
    spark.createDataFrame(batch2, EVENTS).write.mode("append").parquet(src)
    q2 = (
        W.running_totals_stateful(
            spark.readStream.schema(EVENTS).parquet(src)
        )
        .writeStream.format("memory")
        .queryName("t_state_out2")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    drain_stateful(q2)
    got = {
        r.user_id: (r.event_count, r.value_sum)
        for r in spark.table("t_state_out2").collect()
    }
    assert got[7] == (3, 10.0)  # both files in one fresh run


def test_running_totals_batch_twin(spark):
    df = spark.createDataFrame(events_rows(), EVENTS)
    out = {r.user_id: r.event_count for r in W.running_totals_stateful(df).collect()}
    assert sum(out.values()) == 41


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than watermark arriving in a later micro-batch is
    dropped from the windowed aggregate (append mode emits only closed
    windows, and the late row never reopens one)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def run_once(qname):
        stream = spark.readStream.schema(EVENTS).parquet(src)
        return (
            W.tumbling_counts(stream)
            .writeStream.format("parquet")
            .queryName(qname)
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # run 1: events up to 02:00 -> watermark persists at 01:50 in ckpt
    on_time = [
        (i, t0 + dt.timedelta(minutes=10 * i), 1, "a", 1.0) for i in range(13)
    ]
    spark.createDataFrame(on_time, EVENTS).write.mode("append").parquet(src)
    q1 = run_once("t_late_out_1")
    q1.awaitTermination(180)

    # run 2 (same checkpoint): an event at 00:05 - far behind watermark
    spark.createDataFrame(
        [(99, t0 + dt.timedelta(minutes=5), 1, "a", 100.0)], EVENTS
    ).write.mode("append").parquet(src)
    q2 = run_once("t_late_out_2")
    q2.awaitTermination(180)

    closed = {
        r.window_start: (r.event_count, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    # the 00:00 window closed with its on-time count; the late 100.0
    # event must NOT appear in it
    w0 = closed.get(t0)
    assert w0 is not None
    assert w0[0] == 6 and w0[1] == 6.0  # events at :00..:50, value 1.0 each


def test_stream_to_parquet_sink(spark, tmp_path):
    from sales_analytics_etl_sql_powerbi_spark.streaming import sinks

    df = spark.createDataFrame(events_rows(), EVENTS)
    src = str(tmp_path / "sink_src")
    df.write.parquet(src)
    out = str(tmp_path / "sink_out")
    q = sinks.stream_to_parquet(
        spark.readStream.schema(EVENTS).parquet(src),
        out,
        str(tmp_path / "sink_ckpt"),
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == df.count()


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    """The streaming insert-if-missing: a second full replay of the
    source (fresh checkpoint — forced reprocessing) appends nothing."""
    from sales_analytics_etl_sql_powerbi_spark.streaming import sinks

    df = spark.createDataFrame(events_rows(), EVENTS)
    src = str(tmp_path / "ups_src")
    df.write.parquet(src)
    out = str(tmp_path / "ups_out")

    for attempt in range(2):
        q = sinks.foreach_batch_upsert_parquet(
            spark.readStream.schema(EVENTS).parquet(src),
            out,
            str(tmp_path / f"ups_ckpt_{attempt}"),  # new ckpt = full replay
            key_cols=["event_id"],
        )
        q.awaitTermination(120)
        back = spark.read.parquet(out)
        assert back.count() == df.select("event_id").distinct().count()


def test_stream_order_export_matches_batch(spark, tmp_path):
    """The continuous CSV front door must produce exactly the batch
    path's typed staging frame — asserted with the DRIVER's own
    order-insensitive value digest (scripts/check_correctness.py's
    frame_digest: sorted columns, stable float/bytes formatting,
    sorted rows, md5), not just row-tuple parity. The batch side of
    this compare is the oracle-green `staging_csv_roundtrip` frame, so
    hash-equality here chains the streaming path to the DuckDB oracle:
    same bytes as batch, and batch is hash-green against the oracle."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from check_correctness import frame_digest

    from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import (
        ensure_order_export_csv,
    )
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_input
    from sales_analytics_etl_sql_powerbi_spark.pipeline import clean_order_export
    from sales_analytics_etl_sql_powerbi_spark.streaming.ingest import (
        stream_order_export,
    )

    path = ensure_order_export_csv("/root/testdata/sf0.001")
    batch = clean_order_export(read_input(spark, path))

    out = stream_order_export(spark, path, max_files_per_trigger=8)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("stream_ingest")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("stream_ingest")
    assert got.schema == batch.schema
    b_rows = [tuple(r) for r in batch.collect()]
    s_rows = [tuple(r) for r in got.collect()]
    assert frame_digest(batch.columns, s_rows) == frame_digest(
        batch.columns, b_rows
    ), "streaming bytes diverge from the oracle-green batch frame"


def purchase_rows():
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in range(3):
        for m in (0, 5, 20, 61):  # views at various offsets
            rows.append((eid, t0 + datetime.timedelta(minutes=m), u, "view", float(m)))
            eid += 1
        # purchase at minute 35: views at 5 and 20 are within 30min, 0 is not
        rows.append((eid, t0 + datetime.timedelta(minutes=35), u, "purchase", 9.9))
        eid += 1
    return rows


def test_interval_join_batch_semantics(spark):
    df = spark.createDataFrame(purchase_rows(), EVENTS)
    out = W.view_purchase_interval_join(df, lookback="30 minutes").collect()
    by_purchase = {}
    for r in out:
        by_purchase.setdefault(r.purchase_id, set()).add(round(r.gap_seconds))
    # per user: exactly the 5-min and 20-min-offset views qualify
    # (gaps 30min=1800s and 15min=900s); the minute-0 view (gap 35min)
    # and the minute-61 view (after the purchase) do not
    assert all(v == {1800, 900} for v in by_purchase.values())
    assert len(by_purchase) == 3


def test_interval_join_stream_matches_batch(spark, tmp_path):
    df = spark.createDataFrame(purchase_rows(), EVENTS)
    src = str(tmp_path / "ij_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(EVENTS).parquet(src)
    out = W.view_purchase_interval_join(stream, lookback="30 minutes")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_ij_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.view_id, round(r.gap_seconds))
        for r in spark.table("t_ij_out").collect()
    }
    want = {
        (r.purchase_id, r.view_id, round(r.gap_seconds))
        for r in W.view_purchase_interval_join(df, lookback="30 minutes").collect()
    }
    assert got == want and got


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static broadcast join: streamed events pick up dim
    attributes; results match the batch join; the stream side never
    shuffles (single stateless projection + broadcast join)."""
    from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

    ev = spark.createDataFrame(
        [(1, 10, "view"), (2, 20, "view"), (3, 99, "purchase")],
        "event_id long, user_id long, event_type string",
    )
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id long, tier string"
    )
    # batch route (oracle-checkable semantics)
    batch = {
        r.event_id: r.tier
        for r in W.enrich_with_dim(ev, dim, on="user_id").collect()
    }
    assert batch == {1: "gold", 2: "silver", 3: None}
    # stream route: identical results through availableNow
    src = str(tmp_path / "enrich_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string"
    ).parquet(src)
    out = W.enrich_with_dim(stream, dim, on="user_id")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r.event_id: r.tier for r in spark.sql("select * from t_enrich_out").collect()
    }
    assert got == batch


def test_multibatch_watermark_matches_python_simulator(spark, tmp_path):
    """Round 15 (VERDICT r14 item 4): the stream-ONLY semantics —
    watermark advance, late-row dropping, append-mode window
    emission — twinned against a pure-Python watermark simulator on
    generated multi-batch streams. Batch boundaries are made
    deterministic by restarting an availableNow query per data file
    against one checkpoint (the same technique as
    test_watermark_drops_late_data). Simulator rules (Spark's
    documented semantics):

      - W starts at epoch; after each committed batch,
        W = max(W, max_event_ts_seen - delay)
      - a row whose window end <= W at processing time is dropped
      - append mode emits a window exactly once, in the first run
        whose post-batch W >= window end (availableNow runs the
        no-data flush batch before terminating)
    """
    import datetime as dt
    import random

    from pyspark.sql import functions as F

    delay_us = 10 * 60 * 1_000_000
    hour_us = 3_600_000_000
    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(20250815)

    for case in range(2):
        src = str(tmp_path / f"wm_src_{case}")
        ckpt = str(tmp_path / f"wm_ckpt_{case}")
        out_dir = str(tmp_path / f"wm_out_{case}")

        # 3 batches; each mixes fresh timestamps with stragglers far
        # behind the running max, plus exact hour boundaries
        batches = []
        eid = 0
        for b in range(3):
            batch = []
            for _ in range(rnd.randrange(2, 7)):
                mode = rnd.random()
                if mode < 0.25:
                    off = (b + rnd.randrange(0, 2)) * hour_us  # boundary
                elif mode < 0.5:
                    off = rnd.randrange(0, hour_us)  # straggler to batch 0's hour
                else:
                    off = b * hour_us + rnd.randrange(0, hour_us)
                batch.append((eid, off))
                eid += 1
            batches.append(batch)

        # --- python simulator ---
        w = -(1 << 62)
        state: dict[int, int] = {}
        emitted: dict[dt.datetime, int] = {}
        for batch in batches:
            for _, off in batch:
                ws = off - off % hour_us
                if ws + hour_us <= w:
                    continue  # late beyond watermark: dropped
                state[ws] = state.get(ws, 0) + 1
            w = max(w, max(off for _, off in batch) - delay_us)
            for ws in sorted([s for s in state if s + hour_us <= w]):
                emitted[base + dt.timedelta(microseconds=ws)] = state.pop(ws)

        # --- the real stream, one availableNow run per batch ---
        for batch in batches:
            rows = [
                (i, base + dt.timedelta(microseconds=off), 1, "a", 1.0)
                for i, off in batch
            ]
            spark.createDataFrame(rows, EVENTS).write.mode("append").parquet(src)
            q = (
                W.tumbling_counts(
                    spark.readStream.schema(EVENTS).parquet(src)
                )
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {
            r.window_start: r.event_count
            for r in spark.read.parquet(out_dir)
            .where(F.col("event_type") == "a")
            .collect()
        }
        assert got == emitted, (case, batches, got, emitted)


class TestUpsertCrashConsistency:
    """Round 17 (VERDICT r16 item 3): a batch dying mid-write cannot
    tear the upsert table. The committer's staging-then-rename makes
    every VISIBLE parquet file complete; the three torn states a crash
    can leave are each injected here and shown to restore the exact
    no-crash table on replay."""

    @staticmethod
    def _batch(spark, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('k', id) as order_id", "id * 10 as units"
        )

    def test_failed_write_job_leaves_table_unchanged_then_replay(
        self, spark, tmp_path
    ):
        """Crash BEFORE job commit: the abort path removes all staged
        output — table unchanged; a clean replay lands the batch."""
        import pytest
        from pyspark.sql.utils import PythonException

        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        upsert_batch_into_parquet(self._batch(spark, 0, 5), tbl, ["order_id"])
        before = sorted(
            tuple(r) for r in spark.read.parquet(tbl).collect()
        )
        poison = spark.range(5, 10).selectExpr(
            "concat('k', id) as order_id",
            "cast(assert_true(id < 7, 'boom') as long) as units",
        )
        with pytest.raises(Exception):
            upsert_batch_into_parquet(poison, tbl, ["order_id"])
        after = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
        assert after == before
        upsert_batch_into_parquet(self._batch(spark, 5, 10), tbl, ["order_id"])
        assert spark.read.parquet(tbl).count() == 10

    def test_torn_job_commit_replay_restores_exact_table(
        self, spark, tmp_path
    ):
        """Crash DURING job commit (per-file renames are not atomic as
        a set): table = old rows + a strict subset of the batch's
        complete files. Replay key-anti-joins and inserts exactly the
        missing keys — final table equals the no-crash outcome."""
        import glob
        import shutil

        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        side = str(tmp_path / "side")
        expect_tbl = str(tmp_path / "expect")
        upsert_batch_into_parquet(self._batch(spark, 0, 5), tbl, ["order_id"])
        batch = self._batch(spark, 5, 20)
        # the no-crash outcome
        shutil.copytree(tbl, expect_tbl)
        upsert_batch_into_parquet(batch, expect_tbl, ["order_id"])
        expected = sorted(
            tuple(r) for r in spark.read.parquet(expect_tbl).collect()
        )
        # torn commit: land only SOME of the batch's committed files
        batch.repartition(4).write.parquet(side)
        parts = sorted(glob.glob(side + "/part-*.parquet"))
        assert len(parts) >= 2
        for p in parts[: len(parts) // 2]:
            shutil.copy(p, tbl)
        torn = spark.read.parquet(tbl).count()
        assert torn < len(expected)  # genuinely torn mid-commit
        upsert_batch_into_parquet(batch, tbl, ["order_id"])
        got = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
        assert got == expected

    def test_stale_staging_cannot_leak_into_next_commit(
        self, spark, tmp_path
    ):
        """Crash BETWEEN task commit and job commit: the dead writer's
        staged task output sits under _temporary/0, which the NEXT
        append job REUSES — its job commit would publish the dead
        files alongside its own (measured before the sweep existed).
        Both append sinks sweep the staging dir first."""
        import glob
        import os
        import shutil

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            write_append,
        )
        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        for sink in ("upsert", "append"):
            tbl = str(tmp_path / f"tbl_{sink}")
            upsert_batch_into_parquet(
                self._batch(spark, 0, 5), tbl, ["order_id"]
            )
            # dead writer's committed-task-but-not-job output
            stale_src = str(tmp_path / f"stale_{sink}")
            self._batch(spark, 900, 905).coalesce(1).write.parquet(stale_src)
            task_dir = os.path.join(
                tbl, "_temporary", "0", "task_202001010000_0000_m_000000"
            )
            os.makedirs(task_dir)
            shutil.copy(
                glob.glob(stale_src + "/part-*.parquet")[0],
                os.path.join(task_dir, "part-99999-stale.parquet"),
            )
            nxt = self._batch(spark, 5, 8)
            if sink == "upsert":
                upsert_batch_into_parquet(nxt, tbl, ["order_id"])
            else:
                write_append(nxt, tbl)
            keys = {
                r.order_id for r in spark.read.parquet(tbl).collect()
            }
            assert keys == {f"k{i}" for i in range(8)}, (sink, keys)
            assert not os.path.isdir(os.path.join(tbl, "_temporary"))


class TestConcurrentWriters:
    """Round 18 (VERDICT r17 item 1): the single-writer contract is
    mechanical, not documentary. Plain appends stage in per-writer
    isolated dirs and publish by rename, so concurrent appends
    COMPOSE; the check-then-act upsert takes a liveness-checked lock
    and a second live writer RAISES instead of silently inserting
    duplicate keys. Dead writers are GC'd; live ones are never swept."""

    @staticmethod
    def _batch(spark, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('k', id) as order_id", "id * 10 as units"
        )

    @staticmethod
    def _dead_pid():
        import subprocess
        import sys

        p = subprocess.Popen([sys.executable, "-c", ""])
        p.wait()
        return p.pid

    @staticmethod
    def _leftovers(tbl):
        import os

        return [
            n
            for n in os.listdir(tbl)
            if n.startswith("_staging_") or n == "_temporary"
        ]

    def test_concurrent_appends_compose(self, spark, tmp_path):
        """Two writers appending disjoint batches AT THE SAME TIME:
        every row of both lands (the r17 shared-_temporary design lost
        one writer's staged rows here), no staging leftovers remain."""
        from concurrent.futures import ThreadPoolExecutor

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            write_append,
        )

        tbl = str(tmp_path / "tbl")

        def writer(base):
            for i in range(3):
                write_append(
                    self._batch(spark, base + i * 10, base + i * 10 + 10), tbl
                )

        with ThreadPoolExecutor(2) as ex:
            futs = [ex.submit(writer, 0), ex.submit(writer, 1000)]
            for f in futs:
                f.result()
        got = {r.order_id for r in spark.read.parquet(tbl).collect()}
        want = {f"k{i}" for i in range(30)} | {
            f"k{i}" for i in range(1000, 1030)
        }
        assert got == want
        assert self._leftovers(tbl) == []

    def test_upsert_raises_under_live_lock(self, spark, tmp_path):
        """A live concurrent upsert writer must RAISE, not interleave."""
        import json
        import os
        import socket

        import pytest

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            ConcurrentWriteError,
        )
        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        upsert_batch_into_parquet(self._batch(spark, 0, 3), tbl, ["order_id"])
        with open(os.path.join(tbl, "_UPSERT_LOCK"), "w") as f:
            json.dump({"pid": os.getpid(), "host": socket.gethostname()}, f)
        with pytest.raises(ConcurrentWriteError, match="live writer"):
            upsert_batch_into_parquet(
                self._batch(spark, 3, 6), tbl, ["order_id"]
            )
        # table unchanged — the locked-out writer wrote nothing
        assert spark.read.parquet(tbl).count() == 3

    def test_upsert_reclaims_dead_writer_lock(self, spark, tmp_path):
        """A crashed writer's lock must not wedge the table."""
        import json
        import os
        import socket

        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        upsert_batch_into_parquet(self._batch(spark, 0, 3), tbl, ["order_id"])
        with open(os.path.join(tbl, "_UPSERT_LOCK"), "w") as f:
            json.dump(
                {"pid": self._dead_pid(), "host": socket.gethostname()}, f
            )
        upsert_batch_into_parquet(self._batch(spark, 3, 6), tbl, ["order_id"])
        assert spark.read.parquet(tbl).count() == 6
        assert not os.path.exists(os.path.join(tbl, "_UPSERT_LOCK"))

    def test_concurrent_upserts_never_duplicate_keys(self, spark, tmp_path):
        """Two upsert writers racing on OVERLAPPING keys: each either
        completes or raises ConcurrentWriteError, and the table never
        holds a duplicate key — the exact corruption the unlocked
        check-then-act window allowed."""
        from concurrent.futures import ThreadPoolExecutor

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            ConcurrentWriteError,
        )
        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")

        def writer():
            try:
                upsert_batch_into_parquet(
                    self._batch(spark, 0, 20), tbl, ["order_id"]
                )
                return "ok"
            except ConcurrentWriteError:
                return "locked"

        with ThreadPoolExecutor(2) as ex:
            outcomes = sorted(
                f.result() for f in [ex.submit(writer), ex.submit(writer)]
            )
        assert outcomes in (["locked", "ok"], ["ok", "ok"])
        rows = spark.read.parquet(tbl).groupBy("order_id").count().collect()
        assert all(r["count"] == 1 for r in rows), rows
        if "ok" in outcomes:
            assert len(rows) == 20

    def test_dead_writer_staging_swept_live_staging_kept(
        self, spark, tmp_path
    ):
        """GC discrimination: a dead same-host writer's staged rows are
        swept and never published; a LIVE writer's staging survives the
        other writer's sweep untouched (the r17 unconditional sweep
        deleted it mid-job — silent row loss)."""
        import glob
        import json
        import os
        import shutil
        import socket

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            write_append,
        )

        tbl = str(tmp_path / "tbl")
        write_append(self._batch(spark, 0, 5), tbl)
        side = str(tmp_path / "side")
        self._batch(spark, 900, 905).coalesce(1).write.parquet(side)
        part = glob.glob(side + "/part-*.parquet")[0]
        host = socket.gethostname()
        for token, pid in (("deadtok", self._dead_pid()), ("livetok", os.getpid())):
            os.makedirs(os.path.join(tbl, f"_staging_{token}"))
            shutil.copy(
                part, os.path.join(tbl, f"_staging_{token}", "part-0.parquet")
            )
            with open(
                os.path.join(tbl, f"_staging_{token}.writer"), "w"
            ) as f:
                json.dump({"pid": pid, "host": host}, f)
        write_append(self._batch(spark, 5, 8), tbl)
        keys = {r.order_id for r in spark.read.parquet(tbl).collect()}
        assert keys == {f"k{i}" for i in range(8)}  # staged rows unpublished
        left = self._leftovers(tbl)
        assert sorted(left) == ["_staging_livetok", "_staging_livetok.writer"]

    def test_foreign_host_staging_and_lock_never_reclaimed(
        self, spark, tmp_path
    ):
        """Liveness is only probeable same-host, so a FOREIGN host's
        staging dir and upsert lock are conservatively treated as
        live: the GC must not sweep the staging (it may be mid-flight)
        and the lock must raise with remove-by-hand instructions, even
        when the recorded pid happens to be dead HERE."""
        import json
        import os

        import pytest

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            ConcurrentWriteError,
            write_append,
        )
        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        write_append(self._batch(spark, 0, 5), tbl)
        dead = self._dead_pid()  # dead on THIS host — host differs though
        os.makedirs(os.path.join(tbl, "_staging_foreign"))
        with open(os.path.join(tbl, "_staging_foreign.writer"), "w") as f:
            json.dump({"pid": dead, "host": "some-other-executor-host"}, f)
        write_append(self._batch(spark, 5, 8), tbl)
        left = self._leftovers(tbl)
        assert sorted(left) == [
            "_staging_foreign", "_staging_foreign.writer"
        ]
        with open(os.path.join(tbl, "_UPSERT_LOCK"), "w") as f:
            json.dump({"pid": dead, "host": "some-other-executor-host"}, f)
        with pytest.raises(ConcurrentWriteError, match="foreign host"):
            upsert_batch_into_parquet(
                self._batch(spark, 8, 10), tbl, ["order_id"]
            )

    def test_failed_append_cleans_own_staging(self, spark, tmp_path):
        """A staging write that FAILS removes its own staging + marker
        before re-raising (same-pid leftovers are unsweepable by the
        liveness GC, so the writer must clean up after itself)."""
        import pytest

        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            write_append,
        )

        tbl = str(tmp_path / "tbl")
        write_append(self._batch(spark, 0, 5), tbl)
        poison = spark.range(5, 10).selectExpr(
            "concat('k', id) as order_id",
            "cast(assert_true(id < 7, 'boom') as long) as units",
        )
        with pytest.raises(Exception):
            write_append(poison, tbl)
        assert self._leftovers(tbl) == []
        assert spark.read.parquet(tbl).count() == 5


def test_upsert_lock_create_failure_is_not_reported_as_a_race(
    spark, tmp_path, monkeypatch
):
    """A lock create that fails for a reason other than an existing
    lock (here ENOSPC) leaves no lock file behind. It must surface its
    own error, not a ConcurrentWriteError blaming a racing writer; the
    table stays lock-free, so the next upsert proceeds."""
    import errno
    import os

    import pytest

    from sales_analytics_etl_sql_powerbi_spark.sources import sinks

    def no_space(*_args, **_kwargs):
        raise OSError(errno.ENOSPC, "No space left on device")

    tbl = str(tmp_path / "tbl")
    t = sinks._hfs(spark, tbl)
    with monkeypatch.context() as m:
        m.setattr(sinks, "_write_small_file", no_space)
        with pytest.raises(OSError) as info:
            sinks.acquire_upsert_lock(t, "ctx")
    assert info.value.errno == errno.ENOSPC
    assert not os.path.exists(os.path.join(tbl, "_UPSERT_LOCK"))
    sinks.acquire_upsert_lock(t, "ctx")
    sinks.release_upsert_lock(t)


class TestUpsertDeclaredRead:
    """The upsert reads the existing keys with the batch's declared key
    schema: no schema-inference job, an empty root reads as an empty
    table, and a batch whose columns differ from the table's by name or
    type raises before anything is written."""

    @staticmethod
    def _batch(spark, lo, hi, k_type="int"):
        return spark.range(lo, hi).selectExpr(
            f"cast(id as {k_type}) as k", "id * 10 as v"
        )

    def test_key_read_launches_no_job(self, spark, tmp_path, monkeypatch):
        """Everything the upsert does before its write (lock, sweep,
        schema check, key read, anti-join plan) runs no Spark job; the
        write is stubbed so the job group holds only those steps."""
        from sales_analytics_etl_sql_powerbi_spark.sources import sinks
        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        upsert_batch_into_parquet(self._batch(spark, 0, 5), tbl, ["k"])
        appended = []
        monkeypatch.setattr(
            sinks, "_append_isolated", lambda df, *_: appended.append(df)
        )
        sc = spark.sparkContext
        sc.setJobGroup("upsert-key-read", "upsert-key-read")
        try:
            upsert_batch_into_parquet(self._batch(spark, 3, 8), tbl, ["k"])
        finally:
            sc.setJobGroup(None, None)
        assert list(sc.statusTracker().getJobIdsForGroup("upsert-key-read")) == []
        assert sorted(r.k for r in appended[0].collect()) == [5, 6, 7]

    def test_first_upsert_into_empty_root(self, spark, tmp_path):
        """An existing but empty table root is an empty table: the
        first batch lands deduplicated, and a later batch that differs
        only in nullability and column metadata is accepted."""
        import os

        from pyspark.sql import functions as F

        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        os.makedirs(tbl)
        first = self._batch(spark, 0, 4).unionByName(self._batch(spark, 2, 3))
        upsert_batch_into_parquet(first, tbl, ["k"])
        got = spark.read.parquet(tbl)
        assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
            ("k", "int"), ("v", "bigint")
        ]
        assert sorted(tuple(r) for r in got.collect()) == [
            (i, i * 10) for i in range(4)
        ]
        nullable = self._batch(spark, 3, 6).select(
            F.when(F.col("k") >= 0, F.col("k")).alias("k"), "v"
        ).withMetadata("v", {"unit": "cents"})
        upsert_batch_into_parquet(nullable, tbl, ["k"])
        assert sorted(r.k for r in spark.read.parquet(tbl).collect()) == list(
            range(6)
        )

    @pytest.mark.parametrize("k_type", ["string", "double", "smallint"])
    def test_type_mismatch_raises_before_writing(self, spark, tmp_path, k_type):
        """A batch whose key type differs from the table's raises,
        naming the table, the column and both types, and leaves the
        table's files as they were (the unchecked upsert published
        files whose footers disagreed with the table's)."""
        import os
        import re

        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        upsert_batch_into_parquet(self._batch(spark, 0, 3), tbl, ["k"])
        before = sorted(os.listdir(tbl))
        bad = self._batch(spark, 3, 6, k_type)
        with pytest.raises(
            ValueError,
            match=re.escape(tbl) + f".*'k' is {k_type} in the batch but int",
        ):
            upsert_batch_into_parquet(bad, tbl, ["k"])
        assert sorted(os.listdir(tbl)) == before
        assert sorted(r.k for r in spark.read.parquet(tbl).collect()) == [0, 1, 2]

    def test_missing_column_raises(self, spark, tmp_path):
        from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
            upsert_batch_into_parquet,
        )

        tbl = str(tmp_path / "tbl")
        upsert_batch_into_parquet(self._batch(spark, 0, 3), tbl, ["k"])
        with pytest.raises(ValueError, match="'v' is absent in the batch but bigint"):
            upsert_batch_into_parquet(
                self._batch(spark, 3, 6).drop("v"), tbl, ["k"]
            )


def test_release_upsert_lock_logs_a_failed_delete(
    spark, tmp_path, monkeypatch, caplog
):
    """A lock delete that fails is logged with the lock's path and the
    cause, not swallowed: the lock left behind names this live pid and
    blocks every later upsert from this process."""
    import logging
    import os

    from sales_analytics_etl_sql_powerbi_spark.sources import sinks

    tbl = str(tmp_path / "tbl")
    t = sinks._hfs(spark, tbl)
    sinks.acquire_upsert_lock(t, "ctx")

    def broken_delete(*_args):
        raise OSError("delete refused")

    with monkeypatch.context() as m:
        m.setattr(t.fs, "delete", broken_delete)
        with caplog.at_level(logging.WARNING, logger=sinks.__name__):
            sinks.release_upsert_lock(t)
    assert f"{tbl}/_UPSERT_LOCK" in caplog.text
    assert "delete refused" in caplog.text
    assert os.path.exists(os.path.join(tbl, "_UPSERT_LOCK"))
    sinks.release_upsert_lock(t)
    assert not os.path.exists(os.path.join(tbl, "_UPSERT_LOCK"))


def test_small_file_round_trips_through_a_file_uri(spark, tmp_path):
    """Lock and marker files are read whole in one call; a payload of
    every byte value survives the Hadoop stream both ways."""
    from sales_analytics_etl_sql_powerbi_spark.sources import sinks

    payload = bytes(range(256)) * 16
    t = sinks._hfs(spark, "file:" + str(tmp_path / "tbl"))
    blob = t.Path(t.root, "blob")
    sinks._write_small_file(t.fs, blob, payload, overwrite=True)
    assert sinks._read_small_file(t.fs, blob) == payload
