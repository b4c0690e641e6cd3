"""Similarity search: brute-force cosine top-k vs numpy; LSH recall."""

import numpy as np
import pytest

from sales_analytics_etl_sql_powerbi_spark.operators import similarity


def emb_frame(spark, n=40, dim=64, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]], int(i % 3)) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"),
        vecs,
    )


def test_cosine_topk_matches_numpy(spark):
    df, vecs = emb_frame(spark)
    out = similarity.cosine_topk(df, n_queries=2, topk=5).collect()
    got = {(r.query_id, r.rn): r.vec_id for r in out}
    # numpy oracle over the same quantized integer vectors the operator uses
    q = np.round(vecs.astype(np.float64) * similarity._SCALE).astype(np.int64)
    for qid in (0, 1):
        dots = q @ q[qid]
        norms = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        cos = dots / (norms * norms[qid])
        cos[qid] = -np.inf
        order = sorted(
            [i for i in range(len(cos)) if i != qid],
            key=lambda i: (-cos[i], i),
        )[:5]
        assert [got[(qid, rn)] for rn in range(1, 6)] == order


def test_ann_lsh_candidates_subset_and_ranked(spark):
    df, _ = emb_frame(spark)
    out = similarity.ann_lsh_topk(df, n_queries=2, topk=5).collect()
    assert len(out) > 0
    for r in out:
        assert r.query_id in (0, 1)
        assert r.vec_id != r.query_id
    # ranks are dense from 1 within each query
    for qid in (0, 1):
        rns = sorted(r.rn for r in out if r.query_id == qid)
        assert rns == list(range(1, len(rns) + 1))


def test_lsh_buckets_deterministic(spark):
    df, _ = emb_frame(spark, n=10)
    b1 = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df).collect()}
    b2 = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df).collect()}
    assert b1 == b2


def test_embedding_neardup_pairs_finds_planted_dups(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((6, 64)).astype(np.float32)
    vecs = list(base)
    vecs.append(base[0] + rng.standard_normal(64).astype(np.float32) * 0.01)  # ~dup of 0
    vecs.append(base[1].copy())  # exact dup of 1
    rows = [(int(i), [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.embedding_neardup_pairs(df, threshold=0.9).collect()
    }
    assert (0, 6) in got and got[(0, 6)] > 0.99
    assert (1, 7) in got and got[(1, 7)] == 1.0
    # unrelated random vectors must not appear
    assert all(a in (0, 1) for a, b in got)


def test_ann_ivf_recall_vs_brute_force(spark):
    df, _ = emb_frame(spark, n=120)
    brute = similarity.cosine_topk(df, n_queries=3, topk=5).collect()
    ivf = similarity.ann_ivf_topk(
        df, n_queries=3, topk=5, n_clusters=4, nprobe=3
    ).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.vec_id)
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    # probing 3/4 cells must recover most of the true top-5
    total = hits = 0
    for qid, want in brute_sets.items():
        got = ivf_sets.get(qid, set())
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.5


def test_ivf_codebook_parity_spark_vs_parquet(spark, sf_dir):
    """The oracle retrains the codebook from parquet without Spark; both
    routes must produce bit-identical centroids or the DuckDB twin
    would route queries to different cells."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = similarity.ivf_codebook(emb, n_clusters=8)
    b = similarity.codebook_from_parquet(sf_dir, n_clusters=8)
    assert a == b


def test_ann_ivf_deterministic(spark):
    df, _ = emb_frame(spark, n=60)
    a = similarity.ann_ivf_topk(df, n_queries=2, topk=3, n_clusters=4).collect()
    b = similarity.ann_ivf_topk(df, n_queries=2, topk=3, n_clusters=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_auto_n_planes_scales_and_clamps():
    """Bucket count must grow ~log2 with the corpus so buckets stay
    target-sized; floor keeps tiny corpora recall-safe, ceiling bounds
    the bucket-id space."""
    assert similarity.auto_n_planes(500) == 4  # floor for small corpora
    assert similarity.auto_n_planes(100_000) == 10
    assert similarity.auto_n_planes(10**9) == 23
    assert similarity.auto_n_planes(10**12) == 24  # ceiling
    sizes = [10**k for k in range(2, 13)]
    planes = [similarity.auto_n_planes(n) for n in sizes]
    assert planes == sorted(planes)


def test_lsh_bucket_count_grows_with_n_planes(spark):
    df, _ = emb_frame(spark, n=120)
    b2 = similarity.lsh_buckets(df, 2).select("bucket").distinct().count()
    b6 = similarity.lsh_buckets(df, 6).select("bucket").distinct().count()
    assert b6 > b2
    # auto path on a small frame hits the floor — same literals as the
    # pinned-4-plane oracle
    auto = similarity.lsh_buckets(df)
    assert {r.bucket for r in auto.select("bucket").distinct().collect()} <= set(
        range(2**4)
    )


def test_ann_index_query_matches_stateless_and_reuses_cache(spark):
    """The materialized-index path (production shape) must return the
    stateless entry's exact rows, and a second query batch against the
    persisted index must read the cache, not rescan/rebuild the corpus
    (the 100x probe showed index build dominating stateless ANN)."""
    df, _ = emb_frame(spark, n=60)
    n_planes = similarity.auto_n_planes(60)
    idx = similarity.ann_index(df, n_planes).persist()
    try:
        idx.count()  # fill
        got = similarity.ann_query(
            idx, df.where("vec_id < 2"), n_planes, topk=5
        )
        want = similarity.ann_lsh_topk(df, n_queries=2, topk=5)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
        # second batch: index side must come from the cache — no scan
        # and no re-quantization of the corpus outside the cache fill
        batch2 = similarity.ann_query(
            idx, df.where("vec_id >= 2 and vec_id < 4"), n_planes, topk=3
        )
        plan = batch2._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert len(batch2.collect()) > 0
    finally:
        idx.unpersist()


def test_empty_ivf_codebook_raises_at_plan_build(spark):
    """An empty codebook fails loudly, naming the call, before any
    plan is analyzed — not as an opaque ``array()`` analysis error or
    a Python-worker crash."""
    df, _ = emb_frame(spark, n=20)
    q = similarity.quantized(df)
    cases = {
        "with_cells": lambda: similarity.with_cells(q, []),
        "with_cells_arrow": lambda: similarity.with_cells_arrow(q, []),
        "ivf_index": lambda: similarity.ivf_index(df, []),
    }
    for name, build in cases.items():
        with pytest.raises(ValueError, match=f"^{name}: the IVF codebook is empty"):
            build()
    idx = similarity.ivf_index(df, similarity.ivf_codebook(df, n_clusters=2))
    with pytest.raises(ValueError, match="^ivf_query: the IVF codebook is empty"):
        similarity.ivf_query(idx, df.where("vec_id < 2"), [])


@pytest.mark.parametrize("param", ["nprobe", "topk"])
@pytest.mark.parametrize("value", [0, -1])
def test_non_positive_ivf_nprobe_or_topk_raises_at_plan_build(spark, param, value):
    """A non-positive ``nprobe`` or ``topk`` fails at plan build with an
    error naming the call — not as an empty result or an error from
    inside Spark's ``slice``."""
    df, _ = emb_frame(spark, n=20)
    cents = similarity.ivf_codebook(df, n_clusters=2)
    idx = similarity.ivf_index(df, cents)
    kw = {param: value}
    with pytest.raises(ValueError, match=f"^ann_ivf_topk: {param} must be >= 1"):
        similarity.ann_ivf_topk(df, n_clusters=2, **kw)
    with pytest.raises(ValueError, match=f"^ivf_query: {param} must be >= 1"):
        similarity.ivf_query(idx, df.where("vec_id < 2"), cents, **kw)


def test_ivf_index_query_matches_stateless(spark):
    """The materialized IVF index path must return the stateless
    entry's exact rows (same codebook, same routing, same ranks)."""
    df, _ = emb_frame(spark, n=60)
    cents = similarity.ivf_codebook(df, n_clusters=4)
    idx = similarity.ivf_index(df, cents).persist()
    try:
        idx.count()
        got = similarity.ivf_query(
            idx, df.where("vec_id < 2"), cents, nprobe=2, topk=5
        )
        want = similarity.ann_ivf_topk(
            df, n_queries=2, topk=5, n_clusters=4, nprobe=2
        )
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
    finally:
        idx.unpersist()


def test_with_cells_arrow_matches_expression_form(spark):
    """Round 19: the vectorized mapInArrow cell assigner must agree
    row-for-row with the pure-expression ``with_cells`` — including
    the NULL-degrade paths (NULL vector, NULL element, ragged width)
    and exact-tie behavior (first minimum wins). The expression form
    is the semantics oracle here; the arrow form is the plan shape
    ``ivf_index`` ships by default."""
    df, _ = emb_frame(spark, n=50)
    cents = similarity.ivf_codebook(df, n_clusters=4)
    q = similarity.quantized(df).select("vec_id", "__q", "__norm")
    # poison/edge rows: NULL vector, NULL element, ragged (short and
    # long) widths — every one must land cell=NULL on both paths; plus
    # an exact-tie row (equidistant to >=2 centroids after the update
    # — forced by duplicating a centroid's own coordinates as __q)
    dim = len(cents[0])
    edge = spark.createDataFrame(
        [
            (1000, None, None),
            (1001, [None] + [0] * (dim - 1), None),
            (1002, [0] * (dim - 1), 0.0),
            (1003, [0] * (dim + 1), 0.0),
            (1004, [int(v) for v in cents[0]], 1.0),
        ],
        "vec_id long, __q array<long>, __norm double",
    )
    allq = q.unionByName(edge)
    got = {
        r.vec_id: r.cell
        for r in similarity.with_cells_arrow(allq, cents).collect()
    }
    want = {
        r.vec_id: r.cell for r in similarity.with_cells(allq, cents).collect()
    }
    assert got == want
    assert got[1000] is None and got[1001] is None
    assert got[1002] is None and got[1003] is None
    assert got[1004] is not None


def _recall_vs_brute(spark, df, n_queries, topk, **ann_kwargs):
    brute = similarity.cosine_topk(df, n_queries=n_queries, topk=topk).collect()
    ann = similarity.ann_lsh_topk(
        df, n_queries=n_queries, topk=topk, **ann_kwargs
    ).collect()
    want, got = {}, {}
    for r in brute:
        want.setdefault(r.query_id, set()).add(r.vec_id)
    for r in ann:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(want[q]) for q in want)
    return hits / total


def test_multi_probe_lsh_recall_monotone(spark):
    """Flipping the lowest-margin bits probes more buckets → recall vs
    brute force must not drop, and with all bits probeable (n_probes =
    n_planes + 1 = whole corpus reachable only if every bucket is one
    flip away — not guaranteed) it should strictly beat single-probe
    on this fixture (deterministic data, pinned planes)."""
    df, _ = emb_frame(spark, n=200)
    r = {
        p: _recall_vs_brute(spark, df, 8, 5, n_planes=4, n_probes=p)
        for p in (1, 2, 5)
    }
    assert r[1] <= r[2] <= r[5]
    assert r[5] > r[1]


def test_multi_probe_default_is_single_probe(spark):
    df, _ = emb_frame(spark, n=60)
    base = similarity.ann_lsh_topk(df, n_queries=3, topk=5, n_planes=4).collect()
    one = similarity.ann_lsh_topk(
        df, n_queries=3, topk=5, n_planes=4, n_probes=1
    ).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in one]


def test_multi_probe_bounds_validated(spark):
    import pytest

    df, _ = emb_frame(spark, n=20)
    with pytest.raises(ValueError):
        similarity.ann_lsh_topk(df, n_queries=1, topk=3, n_planes=4, n_probes=6)
    with pytest.raises(ValueError):
        similarity.ann_lsh_topk(df, n_queries=1, topk=3, n_planes=4, n_probes=0)


def test_ann_index_parquet_roundtrip_serves_queries(spark, tmp_path):
    df, _ = emb_frame(spark, n=80)
    n_planes = 4
    idx = similarity.ann_index(df, n_planes)
    p = str(tmp_path / "ann_index")
    idx.write.parquet(p)
    disk = spark.read.parquet(p)
    queries = df.where(df.vec_id < 3)
    mem = [tuple(r) for r in similarity.ann_query(idx, queries, n_planes, topk=5).collect()]
    dsk = [tuple(r) for r in similarity.ann_query(disk, queries, n_planes, topk=5).collect()]
    assert mem == dsk and mem


def test_ivf_index_parquet_roundtrip_serves_queries(spark, tmp_path):
    df, _ = emb_frame(spark, n=80)
    cb = similarity.ivf_codebook(df, n_clusters=4)
    idx = similarity.ivf_index(df, cb)
    p = str(tmp_path / "ivf_index")
    idx.write.parquet(p)
    disk = spark.read.parquet(p)
    queries = df.where(df.vec_id < 3)
    mem = [tuple(r) for r in similarity.ivf_query(idx, queries, cb, nprobe=2, topk=5).collect()]
    dsk = [tuple(r) for r in similarity.ivf_query(disk, queries, cb, nprobe=2, topk=5).collect()]
    assert mem == dsk and mem


def test_quantize_int8_codes_bounds_and_zero_vector(spark):
    """Codes live in −127..127, the absmax element hits ±127 exactly,
    and all-zero vectors quantize to zero codes with q_scale 0."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in S.quantize_int8(emb).collect()}
    assert rows[1].codes == [64, -127, 32, 0]  # round(1/ (2/127)) = 64
    assert abs(rows[1].q_scale - 2.0 / 127.0) < 1e-15
    assert rows[2].codes == [0, 0, 0, 0] and rows[2].q_scale == 0.0
    assert all(-127 <= c <= 127 for c in rows[1].codes)
    # schema: codes are BYTES (the 4x compression claim is real)
    dt = dict(S.quantize_int8(emb).dtypes)["codes"]
    assert dt == "array<tinyint>", dt


def test_int8_cosine_topk_close_to_exact_and_twin_parity(spark, sf_dir):
    """int8 ranking stays close to the float ranking (recall@10 high
    on the real embeddings table) and matches the DuckDB twin
    bit-for-bit (codes + 9dp rounding are cross-engine)."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb).collect()
    got = S.int8_cosine_topk(emb).collect()
    # recall@10 of the int8 ranking vs the float ranking
    from collections import defaultdict

    e_top, i_top = defaultdict(set), defaultdict(set)
    for r in exact:
        e_top[r.query_id].add(r.vec_id)
    for r in got:
        i_top[r.query_id].add(r.vec_id)
    recalls = [
        len(e_top[q] & i_top[q]) / len(e_top[q]) for q in e_top
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    con = duckdb.connect()
    import os

    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'embeddings.parquet')}')"
    )
    want = con.execute(S.int8_cosine_topk_sql()).fetchall()
    assert [(r.query_id, r.vec_id, r.cosine, r.rn) for r in got] == [
        tuple(w) for w in want
    ]


def test_rp_project_exact_integer_projection(spark):
    """The sign projection is EXACT long arithmetic: Spark's per-row
    fold must equal a pure-Python dot of the micro-unit quantized
    vector with the same md5-derived ±1 planes."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    vecs = [
        (0, [0.1 * (i % 7) - 0.3 for i in range(64)]),
        (1, [0.01 * i for i in range(64)]),
        (2, [(-1) ** i * 0.5 for i in range(64)]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out_dim = 8
    planes = S.hyperplanes(out_dim)
    got = {r.vec_id: list(r.rp) for r in S.rp_project(emb, out_dim).collect()}
    for vid, v in vecs:
        q = [round(x * 1_000_000) for x in v]
        expect = [sum(a * b for a, b in zip(q, plane)) for plane in planes]
        assert got[vid] == expect
    # the pure-JVM fold witness returns the identical table
    fold = {
        r.vec_id: list(r.rp)
        for r in S.rp_project(emb, out_dim, impl="fold").collect()
    }
    assert fold == got
    # NULL embedding -> NULL projection, both impls (convention pin).
    # An all-NULL frame has no inferable width (round 16), so the
    # contract requires declaring one.
    withnull = spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<double>"
    )
    for impl in ("arrow", "fold"):
        r = S.rp_project(withnull, out_dim, impl=impl, dim=64).collect()[0]
        assert r.rp is None


def test_rp_cosine_topk_shortlist_contains_rerank_targets(spark):
    """The project→shortlist→rerank contract on a structured corpus:
    planted near-duplicate pairs (tight cosine neighbors) must appear
    in a modest RP shortlist even at 4× compression — the structured
    case where JL shines (the near-random synthetic corpus is its
    worst case; measured there in PLAN_AUDIT)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    rows = []
    for i in range(40):
        v = [((i * 31 + j * 7) % 23 - 11) / 11.0 for j in range(64)]
        rows.append((i, v))
    # plant: vec 100+i is vec i with tiny noise → exact top-1 neighbor
    for i in range(5):
        v = [x + 0.01 * ((i + j) % 3 - 1) for j, x in enumerate(rows[i][1])]
        rows.append((100 + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    short = {}
    for r in S.rp_cosine_topk(emb, out_dim=16, n_queries=5, topk=8).collect():
        short.setdefault(r.query_id, set()).add(r.vec_id)
    for i in range(5):
        assert 100 + i in short[i]  # the planted near-dup survives projection


def test_shortlisted_cosine_topk_full_shortlist_equals_brute(spark):
    """When multiplier×topk covers the whole corpus the shortlist is
    total, so the two-stage rerank must reproduce brute-force
    cosine_topk EXACTLY (scores are the true full-width cosines)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    df, _ = emb_frame(spark, n=30)
    brute = [
        (r.query_id, r.rn, r.vec_id, r.cosine)
        for r in S.cosine_topk(df, n_queries=3, topk=5).collect()
    ]
    two_stage = [
        (r.query_id, r.rn, r.vec_id, r.cosine)
        for r in S.shortlisted_cosine_topk(
            df, out_dim=16, multiplier=10, n_queries=3, topk=5
        ).collect()
    ]
    assert two_stage == brute  # 10×5 ≥ 30 candidates → total shortlist


def test_shortlisted_cosine_topk_scores_are_exact_cosines(spark):
    """At a modest multiplier the returned cosine must be the TRUE
    full-width value for every surviving pair (not the projected
    estimate), and survivors must be a subset of the RP shortlist."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    df, _ = emb_frame(spark, n=40)
    exact_by_pair = {
        (r.query_id, r.vec_id): r.cosine
        for r in S.cosine_topk(df, n_queries=2, topk=39).collect()
    }
    short = {
        (r.query_id, r.vec_id)
        for r in S.rp_cosine_topk(df, out_dim=16, n_queries=2, topk=10).collect()
    }
    out = S.shortlisted_cosine_topk(
        df, out_dim=16, multiplier=2, n_queries=2, topk=5
    ).collect()
    assert len(out) == 2 * 5
    for r in out:
        assert (r.query_id, r.vec_id) in short
        assert r.cosine == exact_by_pair[(r.query_id, r.vec_id)]
    # ranks dense from 1, descending true-cosine order per query
    for qid in (0, 1):
        seq = [r for r in out if r.query_id == qid]
        assert [r.rn for r in seq] == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in seq]
        assert cosines == sorted(cosines, reverse=True)


def test_shortlisted_cosine_topk_rejects_bad_multiplier(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    df, _ = emb_frame(spark, n=5)
    try:
        S.shortlisted_cosine_topk(df, multiplier=0)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_rerank_multiplier_guidance():
    """The corpus-aware sizing rule reproduces its measured anchor,
    scales by the measured large-n exponent (~n^0.7 at out_dim>=32),
    and clamps to sane bounds."""
    # anchor: 500 vectors, target 0.75 -> the measured mult=10
    assert similarity.rerank_multiplier(500, topk=10, target_recall=0.75) == 10
    # 4x corpus at the n^0.7 slope: 10 * 4^0.7 ~ 26.4 -> 27 (the
    # measured 0.720-at-20 point sits just under target — the rule
    # over-provisions the small range rather than starving the big)
    assert similarity.rerank_multiplier(2000, topk=10, target_recall=0.75) == 27
    # 40x corpus: 10 * 40^0.7 -> ~132, matching the 0.75 contour
    # extrapolated from the measured 0.595-at-63 on 20000 vectors
    assert similarity.rerank_multiplier(20000, topk=10, target_recall=0.75) == 133
    # lower target -> proportionally smaller shortlist
    m_lo = similarity.rerank_multiplier(2000, topk=10, target_recall=0.5)
    assert 1 <= m_lo < 20
    # narrow projections need steeper growth
    assert similarity.rerank_multiplier(
        2000, topk=10, target_recall=0.75, out_dim=16
    ) > similarity.rerank_multiplier(2000, topk=10, target_recall=0.75)
    # shortlist never exceeds the corpus
    assert similarity.rerank_multiplier(50, topk=10, target_recall=1.0) <= 5
    with pytest.raises(ValueError):
        similarity.rerank_multiplier(0)
    with pytest.raises(ValueError):
        similarity.rerank_multiplier(100, target_recall=1.5)


def test_shortlisted_auto_multiplier(spark):
    """multiplier=None auto-sizes from the corpus (rerank_multiplier)
    and still returns true cosines identical to an explicit call at
    the derived value."""
    emb, _ = emb_frame(spark, n=60)
    auto = similarity.shortlisted_cosine_topk(emb, multiplier=None).collect()
    m = similarity.rerank_multiplier(60, topk=10, out_dim=16)
    explicit = similarity.shortlisted_cosine_topk(emb, multiplier=m).collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in explicit]


def test_zero_norm_vectors_never_crash_or_match(spark):
    """Round 13 (found by the subset fuzz): an all-zero embedding has
    no cosine — under ANSI mode the unguarded division used to kill
    the whole job with DIVIDE_BY_ZERO. Every cosine family member must
    instead treat the row as 'never matches': NULL cosine, dropped by
    thresholds, ranked last by top-k."""
    def v64(*head):
        return list(head) + [0.0] * (64 - len(head))

    rows = [
        (0, v64(1.0)),
        (1, v64()),  # zero-norm corpus vector
        (2, v64(1.0, 0.1)),
        (3, v64(0.9, 0.0, 0.1)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # brute top-k: query 0 ranks 2 and 3 above the zero vector
    top = similarity.cosine_topk(emb, n_queries=1, topk=2).collect()
    assert [(r.vec_id) for r in top] == [2, 3]
    assert all(r.cosine is not None for r in top)

    # threshold ops: the zero vector is never paired
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.5).collect()
    assert all(1 not in (r.vec_a, r.vec_b) for r in pairs)

    # int8 + rp paths share the guard: no crash, zero vector either
    # drops or trails with a NULL score — never outranks a real match
    q = similarity.quantize_int8(emb)
    i8 = similarity.int8_cosine_topk(q, n_queries=1, topk=3).collect()
    assert [r.vec_id for r in i8[:2]] == [2, 3]
    assert all(r.cosine is None for r in i8 if r.vec_id == 1)
    rp = similarity.rp_cosine_topk(emb, out_dim=8, n_queries=1, topk=3)
    got_rp = rp.collect()
    assert len(got_rp) >= 2  # no crash
    assert all(r.cosine is None for r in got_rp if r.vec_id == 1)


def test_nonfinite_vectors_never_crash_or_match(spark):
    """Round 14 (the r13 verdict's demonstrated job-killer): a single
    NaN or Inf element used to kill the whole job with ANSI
    CAST_OVERFLOW at quantized()'s micro-unit cast — the other half of
    the zero-norm poison-row class. Every similarity family member
    must instead treat the row as 'never matches': NULL __q/codes/rp,
    NULL cosine, dropped by thresholds, ranked last by top-k. Covers
    NaN, ±Inf, NULL-element, and NULL-vector rows through every entry
    point including IVF's driver-side codebook training (where
    python round(nan)/round(inf) used to raise on the sample)."""
    import math

    nan, inf = float("nan"), float("inf")

    def v64(*head):
        return list(head) + [0.0] * (64 - len(head))

    rows = [
        (0, v64(1.0)),
        (1, v64(nan)),
        (2, v64(1.0, 0.1)),
        (3, v64(0.9, 0.0, 0.1)),
        (4, v64(inf)),
        (5, v64(1.0, -inf)),
        (6, None),
        (7, [0.8, None] + [0.1] * 62),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    poison = {1, 4, 5, 6, 7}

    # quantized (r15 v3): poison → NULL __norm and a NULL-holding (or
    # whole-NULL) __q — the per-element gate replaced the v2
    # whole-vector when() wrapper that cost +76% on the IVF
    # assignment scan (VERDICT r14). Every integer fold over a
    # NULL-holding array is NULL, so downstream semantics are
    # identical: NULL cosine, NULL cell, NULL projection.
    q = {r["vec_id"]: (r["__q"], r["__norm"]) for r in similarity.quantized(emb).collect()}
    for i in poison:
        assert q[i][1] is None
        assert q[i][0] is None or None in q[i][0]
    assert q[0][0][0] == 1_000_000 and abs(q[0][1] - 1_000_000.0) < 1e-6

    # partial-poison cell semantics (VERDICT r14 item 1): the IVF
    # assignment's dists array is all-NULL for a poison row,
    # array_min is NULL, array_position returns NULL (no ANSI error),
    # and the NULL cell never survives the probe equi-join
    cells = {
        r["vec_id"]: r["cell"]
        for r in similarity.with_cells(
            similarity.quantized(emb), [[0] * 64, [1_000_000] * 64]
        ).collect()
    }
    for i in poison:
        assert cells[i] is None
    assert all(cells[i] is not None for i in (0, 2, 3))

    top = similarity.cosine_topk(emb, n_queries=1, topk=3).collect()
    assert [r.vec_id for r in top[:2]] == [2, 3]
    assert all(r.cosine is None for r in top if r.vec_id in poison)

    # int8: poison → NULL codes + NULL q_scale, dropped by the norm filter
    qi = {r.vec_id: (r.codes, r.q_scale) for r in similarity.quantize_int8(emb).collect()}
    for i in poison:
        assert qi[i] == (None, None)
    i8 = similarity.int8_cosine_topk(emb, n_queries=1, topk=5).collect()
    assert [r.vec_id for r in i8[:2]] == [2, 3]
    assert all(r.cosine is None for r in i8 if r.vec_id in poison)

    # rp: both impls project poison to NULL (parity), topk filters them
    for impl in ("arrow", "fold"):
        got = {r.vec_id: r.rp for r in similarity.rp_project(emb, out_dim=8, impl=impl).collect()}
        assert all(got[i] is None for i in poison), impl
    rp = similarity.rp_cosine_topk(emb, out_dim=8, n_queries=1, topk=5).collect()
    assert all(r.vec_id not in poison for r in rp)
    sh = similarity.shortlisted_cosine_topk(
        emb, out_dim=8, multiplier=2, n_queries=1, topk=3
    ).collect()
    assert all(r.cosine is None for r in sh if r.vec_id in poison)

    # threshold ops: poison never paired
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.5).collect()
    assert pairs and all(
        r.vec_a not in poison and r.vec_b not in poison for r in pairs
    )

    # ANN paths: LSH buckets NULL → never joins; IVF codebook training
    # skips poison sample rows instead of dying driver-side
    lsh = similarity.ann_lsh_topk(emb, n_queries=1, topk=5).collect()
    assert all(r.vec_id not in poison or r.cosine is None for r in lsh)
    ivf = similarity.ann_ivf_topk(emb, n_queries=1, topk=5, n_clusters=2).collect()
    assert all(r.vec_id not in poison or r.cosine is None for r in ivf)

    # all-poison sample raises the documented error, not ValueError from round()
    allbad = spark.createDataFrame(
        [(0, v64(nan)), (1, None)], "vec_id long, embedding array<float>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no finite vectors"):
        similarity.ivf_codebook(allbad, n_clusters=2)

    # the driver-side sample filter is the exact twin of the spark-side
    # poison rule, INCLUDING the square-sum-safe magnitude bound
    # (1e13·1e6 >> _q_elem_bound)
    sample = similarity._quantize_finite_sample(
        [[1.0, 2.0], None, [nan, 0.0], [0.0, inf], [0.5, None], [1e13, 0.0]]
    )
    assert sample == [[1_000_000, 2_000_000]]
    assert math.isfinite(sum(sample[0]))

    # finite-but-HUGE values (round 15 v3, ADVICE r14 medium): the v2
    # try_cast bound (raw |x| <= ~9.2e12) left a window (~3e3, 9.2e12]
    # where the element quantized fine but the INTEGER NORM self-dot
    # overflowed 2^63 under ANSI and killed the job. The v3 bound is
    # square-sum-safe for EVERY integer consumer (norm, pairwise dot,
    # IVF sq-dist): |scaled| <= isqrt((2^63-1)/(4·dim)) ≈ 1.898e8, raw
    # |x| <= ~189.8 at dim=64. int8's per-vector scale keeps huge
    # values VALID (127-code direction vector) — the asymmetry stands.
    bound_raw = similarity._q_elem_bound(64) / 1e6  # ≈ 189.81
    huge = spark.createDataFrame(
        [
            (0, [1.0] + [0.0] * 63),
            (1, [1e13] + [0.0] * 63),       # beyond even the old bound
            (2, [1.0, 0.1] + [0.0] * 62),
            (3, [5e3] + [0.0] * 63),        # ADVICE window: norm overflow
            (4, [400.0] * 64),              # ADVICE window: repeated-dim
            (5, [float(int(bound_raw))] * 64),  # just inside: must be VALID
            (6, [-float(int(bound_raw))] * 64),  # max sq-dist vs 5: no overflow
        ],
        "vec_id long, embedding array<double>",
    )
    qh = {r["vec_id"]: (r["__q"], r["__norm"]) for r in similarity.quantized(huge).collect()}
    for i in (1, 3, 4):
        assert qh[i][1] is None and None in qh[i][0]
    assert qh[0][0] is not None
    assert qh[5][1] is not None and qh[6][1] is not None  # in-bound extremes
    th = similarity.cosine_topk(huge, n_queries=1, topk=6).collect()
    assert [r.vec_id for r in th[:1]] == [2]
    assert all(r.cosine is None for r in th if r.vec_id in (1, 3, 4))
    got = {r.vec_id: r.cosine for r in th}
    assert got[5] is not None and got[6] is not None
    # IVF on the extreme-but-valid corpus: the (x-y)^2 fold between
    # vec 5 and vec 6 is the worst case the bound admits — dim·(2B)^2
    # = 2^63-1 exactly; must not raise ARITHMETIC_OVERFLOW
    ivf_h = similarity.ann_ivf_topk(huge, n_queries=1, topk=5, n_clusters=2).collect()
    assert all(r.cosine is None for r in ivf_h if r.vec_id in (1, 3, 4))
    ih = similarity.int8_cosine_topk(huge, n_queries=1, topk=6).collect()
    assert {r.vec_id: r.cosine for r in ih}[1] == 1.0  # valid under SQ8


def test_hyperplane_paths_reject_dim_mismatch_loudly(spark):
    """Round 15 (found by the ANN fuzz): a corpus whose embeddings are
    not the hyperplane dim used to fold every projection to NULL via
    zip_with's NULL padding and SILENTLY collapse all of LSH into
    bucket 0 (and RP shortlists into all-NULL/empty results). Since
    round 16 (VERDICT r15 item 2) an UNSPECIFIED dim is INFERRED from
    the corpus — any-width corpora work unmodified — while an
    EXPLICIT dim keeps the loud mismatch raise on every hyperplane
    path (a declared width IS the caller's contract)."""
    emb = spark.createDataFrame(
        [(0, [0.1] * 6), (1, [0.2] * 6), (2, [0.3] * 6)],
        "vec_id long, embedding array<double>",
    )
    # explicit-but-wrong dim raises at plan build on every path
    with pytest.raises(Exception, match="embedding width"):
        similarity.ann_lsh_topk(emb, n_queries=1, topk=2, dim=64).collect()
    with pytest.raises(Exception, match="width"):
        similarity.rp_project(emb, out_dim=4, impl="fold", dim=64).collect()
    with pytest.raises(Exception, match="width"):
        similarity.rp_project(emb, out_dim=4, impl="arrow", dim=64).collect()
    # the quantization-gate envelope is sized at _DIM: wider corpora
    # must be refused at plan build, not overflow at runtime
    with pytest.raises(ValueError, match="safe envelope"):
        similarity.lsh_buckets(emb, 4, dim=128)
    # skipping the peek without declaring the width it would have
    # resolved is a caller bug
    with pytest.raises(ValueError, match="explicit"):
        similarity.lsh_buckets(emb, 4, validate_dim=False)
    # with the matching dim, the same corpus works on every path
    assert similarity.ann_lsh_topk(emb, n_queries=1, topk=2, dim=6).count() > 0
    assert (
        similarity.rp_project(emb, out_dim=4, impl="fold", dim=6)
        .where("rp is not null")
        .count()
        == 3
    )
    got_arrow = {
        r.vec_id: r.rp
        for r in similarity.rp_project(emb, out_dim=4, impl="arrow", dim=6).collect()
    }
    got_fold = {
        r.vec_id: r.rp
        for r in similarity.rp_project(emb, out_dim=4, impl="fold", dim=6).collect()
    }
    assert got_arrow == got_fold
    # poison rows still degrade (NULL bucket path), never raise
    laced = spark.createDataFrame(
        [(0, [0.1] * 6), (1, [float("nan")] * 6), (2, None)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.ann_lsh_topk(laced, n_queries=1, topk=2, dim=6).collect()
    assert all(r.cosine is None or r.vec_id == 0 for r in out)


def test_hyperplane_dim_inferred_from_corpus(spark):
    """Round 16 (VERDICT r15 item 2): with no explicit dim, the
    hyperplane family infers the width from the corpus's first
    non-NULL embedding — a 32-dim (here 6-dim) corpus works
    UNMODIFIED on every path, and the inferred plan is identical to
    the explicitly-declared one."""
    rows = [(i, [0.1 * (i + 1 + j) for j in range(6)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # ann_lsh_topk: inferred ≡ explicit, row for row
    inf = similarity.ann_lsh_topk(emb, n_queries=2, topk=3).collect()
    exp = similarity.ann_lsh_topk(emb, n_queries=2, topk=3, dim=6).collect()
    assert [tuple(r) for r in inf] == [tuple(r) for r in exp] and inf

    # rp_project, both impls
    for impl in ("arrow", "fold"):
        got_inf = {
            r.vec_id: r.rp
            for r in similarity.rp_project(emb, out_dim=4, impl=impl).collect()
        }
        got_exp = {
            r.vec_id: r.rp
            for r in similarity.rp_project(
                emb, out_dim=4, impl=impl, dim=6
            ).collect()
        }
        assert got_inf == got_exp and all(v is not None for v in got_inf.values())

    # embedding_neardup_pairs rides the same inference
    assert (
        similarity.embedding_neardup_pairs(emb, threshold=0.99).count() > 0
    )

    # a RAGGED row past the sampled one degrades to NULL on BOTH
    # rp impls (ADVICE r15 medium: arrow used to kill the job where
    # fold degraded) — parity-pinned
    ragged = spark.createDataFrame(
        [(0, [0.1] * 6), (1, [0.2] * 4), (2, [0.3] * 6)],
        "vec_id long, embedding array<double>",
    )
    for impl in ("arrow", "fold"):
        got = {
            r.vec_id: r.rp
            for r in similarity.rp_project(ragged, out_dim=4, impl=impl).collect()
        }
        assert got[1] is None and got[0] is not None and got[2] is not None

    # all-NULL corpus: inference raises with instructions (bounded
    # peek found nothing), explicit dim is trusted and degrades
    nulls = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="cannot infer"):
        similarity.lsh_buckets(nulls, 4)
    assert similarity.lsh_buckets(nulls, 4, dim=6).count() == 2


def test_rp_index_shared_across_shortlist_and_rerank(spark):
    """Round 16: a prebuilt rp_index passed via index= must give
    byte-identical results to the self-built path for BOTH consumers
    (the projection is deterministic), while skipping the second
    eager materialization the composed gate used to pay."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    emb, _ = emb_frame(spark, n=60)
    idx = S.rp_index(emb, out_dim=8)
    for fn, kw in (
        (S.rp_cosine_topk, dict(out_dim=8, n_queries=2, topk=5)),
        (
            S.shortlisted_cosine_topk,
            dict(out_dim=8, multiplier=2, n_queries=2, topk=5),
        ),
    ):
        plain = [tuple(r) for r in fn(emb, **kw).collect()]
        shared = [tuple(r) for r in fn(emb, index=idx, **kw).collect()]
        assert plain == shared and plain


class TestIndexBuildStamps:
    """Round 17 (VERDICT r16 item 1): materialized indexes carry their
    build params in schema metadata; query-time mismatch raises loudly
    instead of silently probing garbage buckets / wrong cells."""

    def test_ann_query_raises_on_plane_mismatch(self, spark):
        df, _ = emb_frame(spark, n=40)
        idx = similarity.ann_index(df, n_planes=4)
        with pytest.raises(ValueError, match="n_planes.*built with 4.*passed 6"):
            similarity.ann_query(idx, df.where("vec_id < 2"), n_planes=6)

    def test_ann_query_raises_on_width_mismatch(self, spark):
        df, _ = emb_frame(spark, n=40, dim=64)
        narrow, _ = emb_frame(spark, n=4, dim=32)
        idx = similarity.ann_index(df, n_planes=4)
        # inferred query width (32) vs stamped index width (64)
        with pytest.raises(ValueError, match="dim.*built with 64.*passed 32"):
            similarity.ann_query(idx, narrow, n_planes=4)
        # explicit dim disagreement raises the same way
        with pytest.raises(ValueError, match="dim"):
            similarity.ann_query(idx, narrow, n_planes=4, dim=32)

    def test_ann_stamp_survives_parquet(self, spark, tmp_path):
        df, _ = emb_frame(spark, n=40)
        idx = similarity.ann_index(df, n_planes=4)
        p = str(tmp_path / "idx")
        idx.write.parquet(p)
        disk = spark.read.parquet(p)
        assert similarity._read_stamp(disk, "bucket") == {
            "n_planes": 4,
            "dim": 64,
        }
        with pytest.raises(ValueError, match="n_planes"):
            similarity.ann_query(disk, df.where("vec_id < 2"), n_planes=8)

    def test_unstamped_index_keeps_caller_contract(self, spark):
        """A hand-built index (no stamp) must not raise — the
        documented caller contract still applies, unvalidated."""
        df, _ = emb_frame(spark, n=40)
        idx = similarity.lsh_buckets(df, 4)  # raw, unstamped
        assert similarity._read_stamp(idx, "bucket") is None
        out = similarity.ann_query(idx, df.where("vec_id < 2"), n_planes=4)
        assert out.count() > 0

    def test_truncated_stamp_raises_in_every_consumer(self, spark):
        """Round 18 (VERDICT r17 item 2): a PRESENT stamp missing keys
        its builder always writes is truncated/hand-stripped — every
        stamped consumer must raise instead of validating the partial
        key set as if complete (only a fully ABSENT stamp keeps the
        unvalidated hand-built contract)."""
        df, _ = emb_frame(spark, n=60)
        q = df.where("vec_id < 2")

        idx = similarity.ann_index(df, n_planes=4)
        cut = idx.withMetadata(
            "bucket", {similarity._STAMP_KEY: {"n_planes": 4}}  # dim gone
        )
        with pytest.raises(ValueError, match="missing key.*dim"):
            similarity.ann_query(cut, q, n_planes=4)

        rp = similarity.rp_index(df, out_dim=8)
        cut = rp.withMetadata(
            "rp", {similarity._STAMP_KEY: {"out_dim": 8}}  # dim gone
        )
        with pytest.raises(ValueError, match="missing key.*dim"):
            similarity.rp_cosine_topk(df, out_dim=8, index=cut)

        cb = similarity.ivf_codebook(df, n_clusters=4)
        ivf = similarity.ivf_index(df, cb)
        cut = ivf.withMetadata(
            "cell",
            {
                similarity._STAMP_KEY: {
                    "n_clusters": 4,
                    "dim": 64,  # codebook_md5 gone — the content check
                }
            },
        )
        with pytest.raises(ValueError, match="missing key.*codebook_md5"):
            similarity.ivf_query(cut, q, cb)

    def test_rp_consumers_raise_on_out_dim_and_width_mismatch(self, spark):
        df, _ = emb_frame(spark, n=40, dim=64)
        idx = similarity.rp_index(df, out_dim=8)
        assert similarity._read_stamp(idx, "rp") == {"out_dim": 8, "dim": 64}
        with pytest.raises(ValueError, match="out_dim.*built with 8.*passed 16"):
            similarity.rp_cosine_topk(df, out_dim=16, index=idx)
        with pytest.raises(ValueError, match="dim.*built with 64.*passed 32"):
            similarity.rp_cosine_topk(df, out_dim=8, dim=32, index=idx)
        # rerank corpus of a different width than the index was built
        # over: inferred (peek) path raises too
        narrow, _ = emb_frame(spark, n=40, dim=32)
        with pytest.raises(ValueError, match="dim.*built with 64.*passed 32"):
            similarity.shortlisted_cosine_topk(
                narrow, out_dim=8, multiplier=2, index=idx
            )

    def test_ivf_query_raises_on_different_codebook(self, spark):
        df, _ = emb_frame(spark, n=60)
        cb = similarity.ivf_codebook(df, n_clusters=4)
        idx = similarity.ivf_index(df, cb)
        # different k
        cb8 = similarity.ivf_codebook(df, n_clusters=8)
        with pytest.raises(ValueError, match="n_clusters"):
            similarity.ivf_query(idx, df.where("vec_id < 2"), cb8)
        # same shape, different content — the silent wrong-routing case
        cb_mut = [list(c) for c in cb]
        cb_mut[0][0] += 1
        with pytest.raises(ValueError, match="codebook_md5"):
            similarity.ivf_query(idx, df.where("vec_id < 2"), cb_mut)

    def test_ivf_stamp_survives_parquet(self, spark, tmp_path):
        df, _ = emb_frame(spark, n=60)
        cb = similarity.ivf_codebook(df, n_clusters=4)
        idx = similarity.ivf_index(df, cb)
        p = str(tmp_path / "ivf")
        idx.write.parquet(p)
        disk = spark.read.parquet(p)
        stamp = similarity._read_stamp(disk, "cell")
        assert stamp["n_clusters"] == 4 and stamp["dim"] == 64
        cb_mut = [list(c) for c in cb]
        cb_mut[-1][-1] += 1
        with pytest.raises(ValueError, match="codebook_md5"):
            similarity.ivf_query(disk, df.where("vec_id < 2"), cb_mut)
        # the true codebook still serves
        assert similarity.ivf_query(
            disk, df.where("vec_id < 2"), cb, nprobe=2
        ).count() > 0

    def test_ann_stamp_survives_bucketed_catalog_roundtrip(self, spark):
        """The docstring's production path — write_bucketed(...,
        bucket_by=['bucket']) + spark.table() — must carry the stamp
        through the catalog, so even the co-located-join deployment
        stays validated."""
        from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
            write_bucketed,
        )

        df, _ = emb_frame(spark, n=40)
        idx = similarity.ann_index(df, n_planes=4)
        spark.sql("drop table if exists t_ann_idx_stamp")
        try:
            write_bucketed(idx, "t_ann_idx_stamp", ["bucket"], n_buckets=4)
            back = spark.table("t_ann_idx_stamp")
            assert similarity._read_stamp(back, "bucket") == {
                "n_planes": 4,
                "dim": 64,
            }
            with pytest.raises(ValueError, match="n_planes"):
                similarity.ann_query(back, df.where("vec_id < 2"), n_planes=8)
        finally:
            spark.sql("drop table if exists t_ann_idx_stamp")

    def test_rp_defaulted_out_dim_resolves_from_stamp(self, spark):
        """r17 review finding: rp_cosine_topk(emb, index=idx) with the
        DEFAULT out_dim must adopt the stamp's out_dim (8), not
        validate the bare default 16 against it and raise."""
        emb, _ = emb_frame(spark, n=40)
        idx = similarity.rp_index(emb, out_dim=8)
        got = similarity.rp_cosine_topk(
            emb, index=idx, n_queries=2, topk=5
        ).collect()
        want = similarity.rp_cosine_topk(
            emb, out_dim=8, index=idx, n_queries=2, topk=5
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want] and got
        got2 = similarity.shortlisted_cosine_topk(
            emb, index=idx, multiplier=2, n_queries=2, topk=5
        ).collect()
        want2 = similarity.shortlisted_cosine_topk(
            emb, out_dim=8, index=idx, multiplier=2, n_queries=2, topk=5
        ).collect()
        assert [tuple(r) for r in got2] == [tuple(r) for r in want2] and got2
        # an EXPLICIT mismatching out_dim still raises
        with pytest.raises(ValueError, match="out_dim"):
            similarity.rp_cosine_topk(emb, out_dim=16, index=idx)
