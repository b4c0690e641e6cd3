"""Sources & sinks (SURVEY §2.1 S1-S9)."""

import os

import pytest
from conftest import jobs_in
from pyspark.sql import types as T

from sales_analytics_etl_sql_powerbi_spark.sources.readers import (
    read_csv_all_string,
    read_events,
    read_input,
    read_table,
)
from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
    create_table_if_not_exists,
    register_temp_view,
    with_load_defaults,
    write_append,
    write_overwrite,
)


def test_csv_all_string_bom_header(spark, tmp_path):
    p = tmp_path / "orders.csv"
    # UTF-8 BOM + space/hyphen headers + numeric-looking data
    p.write_bytes("﻿Order No,Batch Number,goods-number\nA1,B1,3\n".encode())
    df = read_csv_all_string(spark, str(p))
    assert df.columns == ["Order_No", "Batch_Number", "goods_number"]
    assert all(isinstance(f.dataType, T.StringType) for f in df.schema.fields)
    assert df.first().goods_number == "3"  # stays a string


_BOM = "\ufeff".encode()

#: header shapes → (the CSV parts, whether the header is read on the
#: driver); a shape whose parts differ lists one content per part
_HEADER_SHAPES = {
    "plain": ([b"a,b,c\n1,2,3\n"], True),
    "bom": ([_BOM + b"Order No,b\n1,2\n"], True),
    "crlf": ([b"a,b\r\n1,2\r\n"], True),
    "spaces_hyphens": ([b" Line-Number ,goods-number,Order No\n1,2,3\n"], True),
    "empty_name": ([b"a,,c\n1,2,3\n"], True),
    "trailing_comma": ([b"a,b,\n1,2,3\n"], True),
    "exact_duplicates": ([b"a,b,a\n1,2,3\n"], True),
    "case_duplicates": ([b"a,B,A,b\n1,2,3,4\n"], True),
    "bom_duplicates": ([_BOM + b"a,a\n1,2\n"], True),
    "same_parts": ([b"a,b\n1,2\n", b"a,b\n3,4\n"], True),
    "quoted": ([b'"a,b",c\n1,2\n'], False),
    "different_parts": ([b"a,b\n1,2\n", b"a,c\n3,4\n5,6\n"], False),
    "non_ascii": (["\u00e9t\u00e9,b\n1,2\n".encode()], False),
    "empty_file": ([b""], False),
    "blank_first_line": ([b" \na,b\n1,2\n"], False),
}


def _inferred_header(session, path):
    """Spark's own ``header=True`` names, normalized like the reader's."""
    from sales_analytics_etl_sql_powerbi_spark.functions.cleaning import (
        normalize_colname,
    )

    cols = session.read.option("header", True).csv(path).columns
    return [normalize_colname(c) for c in cols]


def _assert_header_parity(session, path, declared):
    from sales_analytics_etl_sql_powerbi_spark.sources import readers

    df, jobs = jobs_in(session, lambda: read_csv_all_string(session, path))
    assert df.columns == _inferred_header(session, path)
    assert all(isinstance(f.dataType, T.StringType) for f in df.schema.fields)
    assert (readers._driver_csv_header(session, path) is not None) == declared
    if declared:
        assert jobs == []


@pytest.mark.parametrize("shape", sorted(_HEADER_SHAPES))
def test_csv_header_parity(spark, tmp_path, shape):
    """The driver-read header gives the columns of Spark's inferred
    ``header=True`` read, and launches no job; a header the driver
    cannot prove equal is left to Spark's inference."""
    parts, declared = _HEADER_SHAPES[shape]
    if len(parts) == 1:
        path = tmp_path / "one.csv"
        path.write_bytes(parts[0])
    else:
        path = tmp_path / "parts"
        path.mkdir()
        for i, content in enumerate(parts):
            (path / f"part-{i}.csv").write_bytes(content)
        (path / "_SUCCESS").write_bytes(b"")
    _assert_header_parity(spark, str(path), declared)


def test_csv_header_parity_case_sensitive(spark, tmp_path):
    """Under ``spark.sql.caseSensitive`` only exact duplicates are
    renamed, as in Spark's own header read."""
    from sales_analytics_etl_sql_powerbi_spark.session import scoped

    path = tmp_path / "one.csv"
    path.write_bytes(b"a,B,A,b,a\n1,2,3,4,5\n")
    child = scoped(spark, {"spark.sql.caseSensitive": "true"})
    _assert_header_parity(child, str(path), True)
    df = read_csv_all_string(child, str(path))
    assert df.columns == ["a0", "B", "A", "b", "a4"]


def test_csv_header_collision_after_renaming_raises(spark, tmp_path):
    """A header whose renamed columns collide fails at the header read,
    naming them: ``a,,_c1`` renames the empty name to ``_c1`` next to a
    literal ``_c1``, and case-insensitively ``_C1`` collides too."""
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import (
        csv_header_schema,
    )

    for header, names in ((b"a,,_c1", "'_c1', '_c1'"), (b"a,,_C1", "'_c1', '_C1'")):
        path = tmp_path / "one.csv"
        path.write_bytes(header + b"\n1,2,3\n")
        with pytest.raises(ValueError, match=f"columns \\[{names}\\]"):
            csv_header_schema(spark, str(path))


def test_csv_header_parity_export_fixture(spark, sf_dir):
    """The 32-part order export behind the CSV gate is read without a
    header job."""
    from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import (
        ensure_order_export_csv,
    )

    _assert_header_parity(spark, ensure_order_export_csv(sf_dir), True)


def test_read_input_dispatch(spark, tmp_path):
    with pytest.raises(ValueError, match="Unsupported input extension"):
        read_input(spark, "/nope/file.avro")


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_read_events_nanos_normalized(spark, sf_dir, tmp_path, unit):
    """Both ``ts`` encodings read as TimestampType with the source's
    microseconds (nanos truncated), and the caller's confs untouched:
    the ``ns`` copy is read from a session whose ``nanosAsLong`` is
    false, which the reader must not flip."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    want_us = src["ts"].cast(pa.int64()).to_pylist()
    caller = spark
    if unit == "ns":
        # sub-microsecond digits the reader must truncate away
        ns = pa.array([v * 1000 + 789 for v in want_us], pa.int64())
        i = src.schema.get_field_index("ts")
        src = src.set_column(i, "ts", ns.cast(pa.timestamp("ns")))
        pq.write_table(src, tmp_path / "events.parquet")
        sf_dir = str(tmp_path)
        caller = spark.newSession()
        caller.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    before = caller.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    ev = read_events(caller, sf_dir)
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    got = ev.select("event_id", F.unix_micros("ts").alias("us")).collect()
    by_id = dict(zip(src["event_id"].to_pylist(), want_us))
    assert len(got) == len(by_id) > 0
    assert all(r.us == by_id[r.event_id] for r in got)
    assert caller.conf.get("spark.sql.legacy.parquet.nanosAsLong") == before


def test_write_modes_and_create(spark, tmp_path):
    df = spark.range(3).withColumnRenamed("id", "n")
    path = str(tmp_path / "t")
    assert create_table_if_not_exists(df, path) is True
    assert create_table_if_not_exists(df, path) is False  # second call no-op
    write_overwrite(df, path)
    write_append(df, path)
    assert spark.read.parquet(path).count() == 6
    write_overwrite(df, path)  # truncate-reload semantics
    assert spark.read.parquet(path).count() == 3


def test_large_single_csv_splits_across_tasks(spark, tmp_path):
    """Round 18 (VERDICT r17 item 7): the CSV ingest floor is an IO
    floor per byte, so at 100 TB the question is PARALLELISM — one
    multi-GB uncompressed CSV must split across tasks, not serialize
    through one. Uncompressed CSV is line-splittable; Spark carves it
    by spark.sql.files.maxPartitionBytes. Pinned here: a single ~6 MB
    file under a 1 MB split size scans as >1 input partition through
    OUR reader (read_csv_all_string), with exact row fidelity across
    the split boundaries (a row straddling two splits must be read
    once, by the split that owns its start)."""
    p = tmp_path / "big.csv"
    n = 60_000
    with open(p, "w", encoding="utf-8") as f:
        f.write("order id,customer,amount\n")
        for i in range(n):
            f.write(f"o{i},customer_{i % 997}_{'x' * 60},{i}.25\n")
    assert p.stat().st_size > 4 * 1024 * 1024
    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes")
    try:
        conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        conf.set("spark.sql.files.openCostInBytes", "0")
        df = read_csv_all_string(spark, str(p))
        n_splits = df.rdd.getNumPartitions()
        assert n_splits > 1, "single CSV file did not split across tasks"
        assert df.count() == n
        # spot fidelity: no duplicated/lost boundary rows
        assert df.where("order_id = 'o0'").count() == 1
        assert df.where(f"order_id = 'o{n - 1}'").count() == 1
        assert df.select("order_id").distinct().count() == n
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        conf.set("spark.sql.files.openCostInBytes", old_open)


def test_append_scheme_qualified_path_sweeps_and_publishes(spark, tmp_path):
    """ADVICE r17: the r17 sweep used os.path, so a scheme-qualified
    table path (file:/, hdfs://) silently SKIPPED the stale-staging
    sweep the crash contract promises. All sink file ops now go
    through the Hadoop FS resolver — a file:-qualified table appends,
    publishes, and sweeps a planted legacy ``_temporary/`` exactly
    like a bare path."""
    df = spark.range(3).withColumnRenamed("id", "n")
    local = tmp_path / "t"
    path = "file://" + str(local)
    write_append(df, path)
    stale = local / "_temporary" / "0" / "task_x"
    stale.mkdir(parents=True)
    (stale / "junk").write_text("x")
    write_append(df, path)
    assert spark.read.parquet(path).count() == 6
    leftovers = [
        n
        for n in os.listdir(local)
        if n == "_temporary" or n.startswith("_staging_")
    ]
    assert leftovers == []


def test_partitioned_append_publishes_partition_dirs(spark, tmp_path):
    """Isolated-staging publish must preserve hive partition layout."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "n int, part string")
    path = str(tmp_path / "p")
    write_append(df, path, partition_by=["part"])
    write_append(
        spark.createDataFrame([(3, "a")], "n int, part string"),
        path,
        partition_by=["part"],
    )
    assert os.path.isdir(os.path.join(path, "part=a"))
    assert spark.read.parquet(path).where("part = 'a'").count() == 2
    assert spark.read.parquet(path).count() == 3


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "n int, part string")
    path = str(tmp_path / "p")
    write_overwrite(df, path, partition_by=["part"])
    assert os.path.isdir(os.path.join(path, "part=a"))
    got = spark.read.parquet(path).where("part = 'a'")
    assert got.count() == 1


def test_with_load_defaults(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(None,), (5,)], "units int")
    out = with_load_defaults(df, defaults={"units": F.lit(1)})
    assert {r.units for r in out.collect()} == {1, 5}
    assert "load_ts" in out.columns
    assert out.where(out.load_ts.isNull()).count() == 0


def test_register_temp_view(spark):
    df = spark.range(2)
    register_temp_view(df, "tv_test")
    assert spark.table("tv_test").count() == 2


def test_read_table_all_tables(spark, sf_dir):
    for t in ("nation", "documents", "embeddings"):
        assert read_table(spark, sf_dir, t).count() > 0


def test_scan_spread_parallelizes_row_group_starved_files(spark, sf_dir):
    """Round 18: a one-row-group parquet scan spreads to the session
    parallelism; tiny tables and disabled-conf reads stay unspread;
    rows are identical either way."""
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import (
        parquet_footer,
        spread_scan,
    )

    p = spark.sparkContext.defaultParallelism
    footer = parquet_footer(os.path.join(sf_dir, "documents.parquet"), spark)
    rows, groups = footer.rows, footer.row_groups
    assert groups == 1  # precondition of the fixture data
    if rows < 64 * p:
        # a very-high-core runner can outgrow the small fixture; the
        # ==p assertions below would then fail on correct code
        # (ADVICE r18) — the contract is still covered on standard
        # runners
        import pytest

        pytest.skip(f"fixture too small for parallelism {p}")
    docs = read_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == p
    # sub-threshold table: no spread (no pointless exchange)
    assert read_table(spark, sf_dir, "nation").rdd.getNumPartitions() == 1
    # per-call opt-out
    raw = read_table(spark, sf_dir, "documents", spread=False)
    assert raw.rdd.getNumPartitions() == 1
    # value identity across the spread
    a = sorted(map(tuple, docs.select("doc_id").collect()))
    b = sorted(map(tuple, raw.select("doc_id").collect()))
    assert a == b
    # non-parquet/unreadable layout: spread_scan degrades to identity
    assert parquet_footer("/nonexistent.parquet", spark) is None
    assert spread_scan(spark, raw, None) is raw


def test_excel_ingest_live(spark, tmp_path):
    """S2 — driver-side Excel ingest runs in-container: a real .xlsx
    round-trip through the stdlib zip+XML reader, every value a raw
    string (dtype=str semantics), headers normalized."""
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_excel
    from sales_analytics_etl_sql_powerbi_spark.sources.xlsx import (
        write_minimal_xlsx,
    )

    p = str(tmp_path / "orders.xlsx")
    write_minimal_xlsx(
        p,
        ["Order No", "goodsNumber", "Notes"],
        [
            ["A1", 3, "first & <escaped>"],
            ["A2", 4.5, None],  # sparse row cell + float formatting
            [None, 7, "third"],  # leading gap keeps column alignment
        ],
    )
    df = read_excel(spark, p)
    assert df.columns == ["Order_No", "goodsNumber", "Notes"]
    rows = df.collect()
    assert [r.Order_No for r in rows] == ["A1", "A2", None]
    assert [r.goodsNumber for r in rows] == ["3", "4.5", "7"]
    assert rows[0].Notes == "first & <escaped>"
    assert rows[1].Notes is None


def test_excel_sheet_selection_and_errors(spark, tmp_path):
    import pytest as _pytest

    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_excel
    from sales_analytics_etl_sql_powerbi_spark.sources.xlsx import (
        write_minimal_xlsx,
    )

    p = str(tmp_path / "sheeted.xlsx")
    write_minimal_xlsx(p, ["K"], [["v"]], sheet_name="Export")
    assert read_excel(spark, p, sheet="Export").first().K == "v"
    with _pytest.raises(ValueError, match="not found"):
        read_excel(spark, p, sheet="Missing")
    with _pytest.raises(ValueError, match="out of range"):
        read_excel(spark, p, sheet=3)
    # legacy .xls goes through the BIFF8 parser (round 12), no longer
    # a NotImplementedError boundary — full coverage in test_xls.py
    from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
        write_minimal_xls,
    )

    p_xls = str(tmp_path / "legacy.xls")
    write_minimal_xls(p_xls, ["K"], [["v"]], sheet_name="Export")
    assert read_excel(spark, p_xls, sheet="Export").first().K == "v"


def test_fact_partition_pruning_roundtrip(spark, sf_dir, tmp_path):
    """Write the fact partitioned by date; a date filter must reach the
    scan as a PartitionFilter (pruning, not post-scan filtering)."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark import pipeline

    fact = pipeline.star(spark, sf_dir)["fact"]
    path = str(tmp_path / "fact")
    write_overwrite(fact, path, partition_by=["date_id"])

    some_date = spark.read.parquet(path).select("date_id").first().date_id
    q = spark.read.parquet(path).where(F.col("date_id") == F.lit(some_date))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(date_id" in plan
    assert q.count() > 0


def test_clustered_write_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i % 7, i) for i in range(1000)], "k int, v int"
    )
    path = str(tmp_path / "clustered")
    write_overwrite(df, path, cluster_by=["k"])
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert {r.k for r in back.select("k").distinct().collect()} == set(range(7))


def test_csv_export_roundtrip_clean(spark, sf_dir):
    """The CSV front door end-to-end: deterministic export fixture →
    extension dispatch → all-string scan → normalized headers → typed
    cleaning stack. Dirt rows must land as NULL/default, never error."""
    from sales_analytics_etl_sql_powerbi_spark import pipeline
    from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import (
        ensure_order_export_csv,
    )

    path = ensure_order_export_csv(sf_dir)
    raw = read_input(spark, path)
    assert all(f.dataType.simpleString() == "string" for f in raw.schema.fields)
    assert "Line_Number" in raw.columns  # ' Line-Number ' normalized
    out = pipeline.clean_order_export(raw)
    rows = out.collect()
    assert len(rows) > 0
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["order_id"] == "int" and types["submit_ts"] == "timestamp"
    # deterministic dirt: some timestamps NULL (unparseable), none raise
    assert any(r.submit_ts is None for r in rows)
    assert all(r.units is not None for r in rows)  # default applied
    assert all(r.discount_code is None for r in rows)  # ensured column
    assert max(len(r.notes) for r in rows) <= 30  # width truncation


def test_bucketed_join_needs_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key → the join plans without a
    shuffle: the scale answer for fact-to-fact joins that cannot
    broadcast (lineitem⋈orders at 100 TB)."""
    import uuid

    from sales_analytics_etl_sql_powerbi_spark.sources.sinks import write_bucketed

    # bucketed tables need the catalog; they land in the session's
    # spark-warehouse dir (gitignored) and are dropped at the end
    suffix = uuid.uuid4().hex[:8]
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, f"li_b_{suffix}", ["l_orderkey"], n_buckets=8)
    write_bucketed(orders, f"ord_b_{suffix}", ["o_orderkey"], n_buckets=8)
    a = spark.table(f"li_b_{suffix}")
    b = spark.table(f"ord_b_{suffix}")
    joined = a.join(b, a.l_orderkey == b.o_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == li.count()
    spark.sql(f"DROP TABLE li_b_{suffix}")
    spark.sql(f"DROP TABLE ord_b_{suffix}")


def test_read_input_jsonl_and_text(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text('{"doc_id": 1, "text": "hello"}\n{"doc_id": 2, "text": "world"}\n')
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_input

    df = read_input(spark, str(p))
    assert sorted((r.doc_id, r.text) for r in df.collect()) == [
        (1, "hello"),
        (2, "world"),
    ]

    t = tmp_path / "corpus.txt"
    t.write_text("line one\nline two\n")
    tf = read_input(spark, str(t))
    assert tf.columns == ["value"]
    assert sorted(r.value for r in tf.collect()) == ["line one", "line two"]


def test_asof_tolerance_preserves_column_order(spark):
    """Tolerance and no-tolerance calls of the same as-of function must
    return the SAME column order (ADVICE r5: the old implementation
    re-appended masked payload columns at the end)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 10, 100.0)], "event_id long, user_id long, ts double"
    )
    right = spark.createDataFrame(
        [(10, 90.0, 5, 1.0)], "user_id long, ts double, src long, value double"
    )
    for fn, kw in [
        (asof.asof_backward, {}),
        (asof.asof_forward, {}),
    ]:
        plain = fn(left, right, on="user_id", ts="ts", payload=("src", "value"), **kw)
        tol = fn(
            left, right, on="user_id", ts="ts", payload=("src", "value"),
            tolerance_seconds=5.0, **kw,
        )
        assert plain.columns == tol.columns
