"""Deterministic sampling: reproducibility, stability, quotas."""

from sales_analytics_etl_sql_powerbi_spark.operators import sampling


def frame(spark, n=400):
    return spark.createDataFrame(
        [(i, f"doc {i}", ["en", "de", "es"][i % 3]) for i in range(n)],
        "doc_id long, text string, lang string",
    )


def test_sample_reproducible_and_rate(spark):
    df = frame(spark)
    a = {r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.3).collect()}
    b = {r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.3).collect()}
    assert a == b  # no rand(): identical on every run
    assert 0.15 < len(a) / 400 < 0.45  # Bernoulli around the rate
    # different salt → decorrelated sample
    c = {r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.3, salt="s2").collect()}
    assert c != a


def test_sample_content_addressed_under_growth(spark):
    """A row's membership must not change when OTHER rows are added."""
    small = frame(spark, 200)
    big = frame(spark, 400)
    a = {r.doc_id for r in sampling.deterministic_sample(small, "doc_id", 0.3).collect()}
    b = {r.doc_id for r in sampling.deterministic_sample(big, "doc_id", 0.3).collect()}
    assert a == {x for x in b if x < 200}


def test_split_assign_partitions_completely(spark):
    df = frame(spark)
    out = sampling.split_assign(df, "doc_id").collect()
    by_split = {}
    for r in out:
        by_split.setdefault(r.split, set()).add(r.doc_id)
    assert set(by_split) == {"train", "val", "test"}
    assert sum(len(v) for v in by_split.values()) == 400  # total partition
    assert len(by_split["train"]) > len(by_split["val"])  # 80/10/10 shape
    # stability: same row, same split, every time
    again = {r.doc_id: r.split for r in sampling.split_assign(df, "doc_id").collect()}
    for split, ids in by_split.items():
        assert all(again[i] == split for i in ids)


def test_sample_per_group_quota(spark):
    df = frame(spark)
    out = sampling.sample_per_group(df, "lang", "doc_id", n=7).collect()
    per = {}
    for r in out:
        per.setdefault(r.lang, []).append(r.doc_id)
    assert set(per) == {"en", "de", "es"}
    assert all(len(v) == 7 for v in per.values())
    # hash-ordered, not arrival-ordered: not simply doc_id 0..6
    assert sorted(per["en"])[:7] != [0, 3, 6, 9, 12, 15, 18]


def test_sampling_profile_flags_match_operators(spark):
    """Filtering on each flag must reproduce the standalone operator's
    output row-for-row (same salts, same buckets)."""
    df = frame(spark)
    prof = sampling.sampling_profile(df, "doc_id", "lang", rate=0.3, n_per_group=15)
    rows = prof.collect()

    sampled = {r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.3).collect()}
    assert {r.doc_id for r in rows if r.in_sample} == sampled

    splits = {r.doc_id: r.split for r in sampling.split_assign(df, "doc_id").collect()}
    assert {r.doc_id: r.split for r in rows} == splits

    quota = {
        r.doc_id
        for r in sampling.sample_per_group(df, "lang", "doc_id", n=15).collect()
    }
    assert {r.doc_id for r in rows if r.in_group_quota} == quota


def test_training_shards_deterministic_and_balanced(spark, sf_dir):
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    a = sampling.training_shards(docs, 8)
    sizes = {r.shard: r.cnt for r in a.groupBy("shard").count().withColumnsRenamed({"count": "cnt"}).collect()}
    assert set(sizes) <= set(range(8))
    # content-hash spread: no shard more than 2x the even split on real data
    assert max(sizes.values()) <= 2 * (n / 8)
    # repartition-stability: same assignment from a differently-partitioned input
    b = sampling.training_shards(docs.repartition(7), 8)
    assert a.select("doc_id", "shard").exceptAll(b.select("doc_id", "shard")).count() == 0


def test_stratified_mix_quotas_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("fr")
    )
    quotas = {"en": 5, "fr": 200000, "de": 3}  # de absent; fr under-filled
    out = sampling.stratified_mix(docs, "lang", quotas)
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    n_fr = docs.where(F.col("lang") == "fr").count()
    assert counts == {"en": 5, "fr": n_fr}  # quota hit / shortfall kept / absent dropped
    # repartition-stability: identical selection from a reshuffled input
    out2 = sampling.stratified_mix(docs.repartition(13), "lang", quotas)
    assert out.select("doc_id").exceptAll(out2.select("doc_id")).count() == 0
    assert out2.count() == out.count()


def test_profile_in_mix_flag_matches_stratified_mix(spark, sf_dir):
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    quotas = {"en": 10, "zh": 3}
    prof = sampling.sampling_profile(
        docs, "doc_id", "lang", mix_quotas=quotas
    )
    via_flag = {r.doc_id for r in prof.where(F.col("in_mix")).collect()}
    via_op = {
        r.doc_id for r in sampling.stratified_mix(docs, "lang", quotas).collect()
    }
    assert via_flag == via_op and via_flag


# ---------------------------------------------------------------------------
# weighted sampling (round 6)
# ---------------------------------------------------------------------------


def _weighted_frame(spark, n=2000):
    # half the rows carry weight 9, half weight 1 → the heavy class
    # should win ~90% of sample slots
    return spark.range(n).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 9.0 ELSE 1.0 END AS w",
    )


def test_weighted_sample_deterministic_and_weight_proportional(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    df = _weighted_frame(spark)
    got1 = [r.doc_id for r in sampling.weighted_sample(df, "doc_id", "w", 200).collect()]
    got2 = [
        r.doc_id
        for r in sampling.weighted_sample(
            df.repartition(7), "doc_id", "w", 200
        ).collect()
    ]
    assert got1 == got2  # repartition-stable
    heavy = sum(1 for d in got1 if d % 2 == 0)
    # E[heavy] ≈ 0.9·200 = 180; allow wide deterministic tolerance
    assert 150 <= heavy <= 200, heavy


def test_weighted_sample_excludes_nonpositive_and_null_weights(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "doc_id long, w double",
    )
    got = {r.doc_id for r in sampling.weighted_sample(df, "doc_id", "w", 10).collect()}
    assert got == {1, 5}
    import pytest

    with pytest.raises(ValueError):
        sampling.weighted_sample(df, "doc_id", "w", 0)


def test_weighted_sample_matches_duckdb_twin(spark):
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    df = _weighted_frame(spark, 500)
    got = [
        r.doc_id
        for r in sampling.weighted_sample(df, "doc_id", "w", 50).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, w DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(r.doc_id, r.w) for r in df.collect()]
    )
    want = [
        r[0]
        for r in con.execute(
            sampling.weighted_sample_sql(
                "doc_id", "w", 50, source="t", columns="doc_id"
            )
        ).fetchall()
    ]
    assert got == want


def test_weighted_sample_plan_is_take_ordered(spark):
    """Global top-n must be TakeOrderedAndProject (per-partition
    heaps), not a full sort of the corpus."""
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    df = _weighted_frame(spark)
    plan = (
        sampling.weighted_sample(df, "doc_id", "w", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_excludes_nan_weights(spark):
    """Spark orders NaN larger than any double, so `w > 0` alone
    ADMITS NaN — and ln(u)/NaN scores sort first under desc, stealing
    top-n slots (ADVICE r6). NaN weights must be excluded on both the
    Spark side and the DuckDB twin."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan")), (3, 2.0), (4, float("nan"))],
        "doc_id long, w double",
    )
    got = {r.doc_id for r in sampling.weighted_sample(df, "doc_id", "w", 3).collect()}
    assert got == {1, 3}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, w DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(r.doc_id, r.w) for r in df.collect()]
    )
    want = {
        r[0]
        for r in con.execute(
            sampling.weighted_sample_sql("doc_id", "w", 3, source="t", columns="doc_id")
        ).fetchall()
    }
    assert want == {1, 3}


def test_token_budget_mix_prefix_semantics(spark):
    """Per-group token budgets: kept set is the hash-order prefix
    whose inclusive sum fits; the straddling row and everything after
    are out (never overshoots); shortfall groups keep everything;
    groups absent from the quota map are all-false. Verified against
    a sequential Python reference over the same hash order, across
    bucket counts (bucketed scan exactness)."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import sampling as S

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], (i * 7) % 15 + 1) for i in range(90)],
        "doc_id long, lang string, w long",
    )
    quotas = {"a": 100, "b": 10_000}  # a bites, b shortfall, c absent
    hashed = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id", S.hash_bucket("doc_id", "tok").alias("h")
        ).collect()
    }
    rows = sorted(
        ((r.lang, hashed[r.doc_id], r.doc_id), r.w)
        for r in df.collect()
    )
    expect = {}
    cum: dict = {}
    for (lang, _h, doc_id), w in rows:
        cum[lang] = cum.get(lang, 0) + w
        # absent groups unconditionally false (round 14) — equivalent
        # to the old `<= quotas.get(lang, 0)` only because this data's
        # weights are all positive
        q = quotas.get(lang)
        expect[doc_id] = q is not None and cum[lang] <= q
    for nb in (1, 4, 64):
        got = {
            r.doc_id: r.in_token_budget
            for r in S.token_budget_mix(
                df, "lang", quotas, "w", num_buckets=nb
            ).collect()
        }
        assert got == expect
    # no group keeps anything from 'c'; 'b' keeps everything
    assert not any(v for d, v in got.items() if d % 3 == 2)
    assert all(v for d, v in got.items() if d % 3 == 1)
    # NULL-group rows survive with the flag false (never dropped)
    withnull = df.union(
        spark.createDataFrame([(999, None, 5)], df.schema)
    )
    out = S.token_budget_mix(withnull, "lang", quotas, "w").collect()
    assert len(out) == 91
    assert [r.in_token_budget for r in out if r.doc_id == 999] == [False]
