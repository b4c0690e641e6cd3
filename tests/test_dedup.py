"""Dedup operators: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

from pyspark.sql import functions as F

from sales_analytics_etl_sql_powerbi_spark.operators import dedup

DOCS = "doc_id long, text string"


def docs_frame(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
            (3, "completely different text about spark pipelines"),
            (4, "spark pipelines at scale with catalyst optimizer"),
        ],
        DOCS,
    )


def test_exact_dedup(spark):
    out = dedup.exact_dedup(docs_frame(spark)).collect()
    by_canon = {r.canonical_doc_id: r.dup_count for r in out}
    assert by_canon[0] == 2  # docs 0 and 2 collapse, min(doc_id)=0
    assert len(out) == 4  # 5 docs -> 4 unique contents


def test_shingles(spark):
    sh = dedup.shingle_docs(spark.createDataFrame([(1, "a b c d")], DOCS), k=3)
    got = {r.shingle for r in sh.collect()}
    assert got == {"a b c", "b c d"}
    # doc shorter than k contributes whole text
    sh2 = dedup.shingle_docs(spark.createDataFrame([(1, "a b")], DOCS), k=3)
    assert {r.shingle for r in sh2.collect()} == {"a b"}


def test_minhash_identical_docs_same_signature(spark):
    sig = dedup.minhash_signatures(docs_frame(spark)).collect()
    by_id = {r.doc_id: tuple(r)[1:] for r in sig}
    assert by_id[0] == by_id[2]  # identical text -> identical signature
    assert by_id[0] != by_id[3]


def test_neardup_pairs_finds_near_and_exact(spark):
    pairs = dedup.neardup_pairs(docs_frame(spark))
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert got[(0, 2)] == 1.0  # exact dup
    assert (0, 1) in got and got[(0, 1)] > 0.5  # near dup caught by LSH
    # unrelated docs must not be near-dups even if bucketed together
    assert got.get((0, 3), 0.0) < 0.2


def test_neardup_threshold_filter(spark):
    pairs = dedup.neardup_pairs(docs_frame(spark), threshold=0.9).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(0, 2)}


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash for r in dedup.simhash(docs_frame(spark)).collect()}
    assert out[0] == out[2]  # identical docs -> identical fingerprint
    ham01 = bin(out[0] ^ out[1]).count("1")
    ham03 = bin(out[0] ^ out[3]).count("1")
    assert ham01 < ham03  # near-dup closer than unrelated


def test_ngram_jaccard_topk_ranks_exact_dup_first(spark):
    out = dedup.ngram_jaccard_topk(docs_frame(spark), n_queries=1, topk=3)
    rows = out.where(F.col("query_id") == 0).orderBy("rn").collect()
    assert rows[0].doc_id == 2 and rows[0].jaccard == 1.0
    assert rows[1].doc_id == 1


def test_neardup_clusters_transitive_chain(spark):
    """A~B and B~C (but A and C less similar) must share one cluster —
    connected components, not just pairwise collapse."""
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " w11"),           # ~dup of 10
            (12, base + " w11 w12"),       # ~dup of 11, less so of 10
            (30, "totally different content about something else entirely"),
        ],
        DOCS,
    )
    out = {r.doc_id: r.cluster_id for r in dedup.neardup_clusters(docs, threshold=0.5).collect()}
    assert out[10] == out[11] == out[12] == 10
    assert out[30] == 30


def test_neardup_clusters_singletons_kept(spark):
    docs = docs_frame(spark)
    out = {r.doc_id: r.cluster_id for r in dedup.neardup_clusters(docs, threshold=0.9).collect()}
    assert len(out) == 5  # every doc appears
    assert out[0] == out[2] == 0  # exact dups collapse
    assert out[3] == 3 and out[4] == 4  # singletons own cluster


def test_md5_single_evaluation_in_plan(spark):
    """The 63-bit hash splits the md5 hex twice; hoisting md5 into its
    own named column must survive optimization (CollapseProject keeps a
    non-cheap expression referenced twice in its own project) so each
    shingle/token is hashed exactly once per row."""
    docs = docs_frame(spark)
    for df in (dedup.minhash_signatures(docs), dedup.simhash(docs)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5(") == 1, plan


def test_neardup_pairs_leaks_no_intermediate_caches(spark):
    """Repeated calls over distinct corpora must not accumulate
    signature/shingle-set cache entries: only the materialized result
    itself may occupy storage (reclaimed when the caller drops it)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    results = []
    for salt in ("x", "y", "z"):
        docs = docs_frame(spark).withColumn(
            "text", F.concat(F.col("text"), F.lit(" " + salt))
        )
        out = dedup.neardup_pairs(docs)
        out.collect()
        results.append(out)
    grown = jsc.getPersistentRDDs().size() - before
    # one localCheckpoint entry per live result is allowed; the 2
    # intermediate caches per call (signatures + shingle sets) are not
    assert grown <= len(results), f"leaked {grown} storage entries"


def test_neardup_clusters_accepts_precomputed_pairs(spark):
    """Handing in a materialized neardup_pairs frame must produce the
    identical clustering as the internal rebuild (and skip the rebuild:
    edge generation dominates collapse wall time — PLAN_AUDIT round 5),
    with round_stats attributing edge-build vs per-round loop cost."""
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " w11"),
            (12, base + " w11 w12"),
            (30, "totally different content about something else entirely"),
        ],
        DOCS,
    )
    rebuilt = {
        r.doc_id: r.cluster_id
        for r in dedup.neardup_clusters(docs, threshold=0.5).collect()
    }
    pairs = dedup.neardup_pairs(docs, threshold=0.5)
    stats: list = []
    reused = {
        r.doc_id: r.cluster_id
        for r in dedup.neardup_clusters(
            docs, threshold=0.5, pairs=pairs, round_stats=stats
        ).collect()
    }
    assert reused == rebuilt
    # round_stats: one edge-build entry (round -1) then the loop rounds,
    # last round converged (changed == 0)
    assert stats[0][0] == -1
    rounds = [s for s in stats if s[0] >= 0]
    assert rounds and rounds[-1][1] == 0


def test_keep_canonical_drops_near_dups_keeps_min(spark):
    docs = docs_frame(spark)
    kept = {r.doc_id for r in dedup.keep_canonical(docs, threshold=0.5).collect()}
    # 0,1,2 cluster together (near/exact dups) -> keep 0; 3 and 4 are
    # below-threshold to each other -> both singletons, both kept
    assert kept == {0, 3, 4}
    # quality-aware keeper (round 10): score picks doc 2 out of the
    # cluster instead of min-id; ties still break to lowest doc_id
    from pyspark.sql import functions as F

    scored = docs.withColumn(
        "quality", F.when(F.col("doc_id") == 2, 9.0).otherwise(1.0)
    )
    kept_q = {
        r.doc_id
        for r in dedup.keep_canonical(
            scored, threshold=0.5, prefer_col="quality"
        ).collect()
    }
    assert kept_q == {2, 3, 4}


def test_banding_collision_probability_is_monotone_in_rows():
    """Theory pin for the bands/rows knob: P(candidate) =
    1 − (1 − J^rows)^bands is non-increasing as rows-per-band grows
    (bands·rows fixed at 16 permutations) for EVERY Jaccard J — the
    measured recall table (PLAN_AUDIT round 6) rides on this."""
    def p(j, bands, rows):
        return 1.0 - (1.0 - j**rows) ** bands

    configs = [(16, 1), (8, 2), (4, 4), (2, 8)]
    for j in [i / 20 for i in range(1, 20)]:
        probs = [p(j, b, r) for b, r in configs]
        assert probs == sorted(probs, reverse=True), (j, probs)


def test_banded_candidates_recall_monotone_empirically(spark):
    """Empirical twin of the theory pin on the REAL pipeline: a corpus
    with graded near-dups; recall of true pairs must be non-increasing
    as rows-per-band grows, and the band budget must be validated."""
    import pytest

    rows = []
    # ten pairs: doc 2i is 20 tokens, doc 2i+1 shares 20−i of them
    for i in range(10):
        toks = [f"w{i}_{k}" for k in range(20)]
        alt = toks[: 20 - i] + [f"x{i}_{k}" for k in range(i)]
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(alt)))
    docs = spark.createDataFrame(rows, DOCS)
    sig = dedup.minhash_signatures(docs)
    truth = {(2 * i, 2 * i + 1) for i in range(10)}
    recalls = []
    for bands, rpb in ((16, 1), (8, 2), (4, 4), (2, 8)):
        cand = {
            (r.doc_a, r.doc_b)
            for r in dedup.lsh_candidate_pairs(
                sig, bands=bands, rows_per_band=rpb
            ).collect()
        }
        recalls.append(len(truth & cand) / len(truth))
    assert recalls == sorted(recalls, reverse=True), recalls
    assert recalls[0] == 1.0  # 16 single-row bands catch every graded pair
    with pytest.raises(ValueError, match="permutations"):
        dedup.lsh_candidate_pairs(sig, bands=8, rows_per_band=4).collect()


def test_duplicated_spans_finds_planted_boilerplate(spark):
    """The Lee-et-al scenario: a boilerplate sentence pasted into
    several otherwise-distinct docs must surface as one maximal span
    per occurrence; unique text must NOT."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup as D

    boiler = "all rights reserved contact us for details"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + boiler + " delta"),
            (2, "omega " + boiler),
            (3, "totally unique words here nothing repeats ever once"),
            (4, boiler),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in D.duplicated_spans(docs, k=5).collect()
    }
    # doc 1: boiler at tokens 3..9; doc 2: 1..7; doc 4: 0..6
    assert spans[1] == (3, 9, 7)
    assert spans[2] == (1, 7, 7)
    assert spans[4] == (0, 6, 7)
    assert 3 not in spans


def test_duplicated_spans_merges_nonconsecutive_overlaps(spark):
    """VERDICT r7 item 1 repro: duplicated grams whose starts differ
    by 2..k overlap in COVERAGE and must merge into ONE maximal span —
    the r7 island logic (consecutive starts) reported overlapping
    (0,2)+(2,4) and span_tokens summed to 6 over 5 covered tokens."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x q r"), (3, "z c d e y w")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in D.duplicated_spans(docs, k=3, min_count=2).collect()
    }
    # doc 1: dup grams at pos 0 ('a b c') and pos 2 ('c d e') → ONE
    # maximal span covering tokens 0..4 (5 tokens, counted once)
    assert got[1] == (0, 4, 5)
    assert got[2] == (0, 2, 3)
    assert got[3] == (1, 3, 3)
    # spans never overlap: pinned across a doc with two disjoint runs
    docs2 = spark.createDataFrame(
        [(1, "a b c d e f q q q a b c d e f"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    spans2 = sorted(
        (r.span_start, r.span_end)
        for r in D.duplicated_spans(docs2, k=3, min_count=2).collect()
        if r.doc_id == 1
    )
    assert spans2 == [(0, 5), (9, 14)]
    for (s1, e1), (s2, e2) in zip(spans2, spans2[1:]):
        assert e1 < s2
    # the DuckDB twin mirrors the coverage-gap rule on the repro too
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'a b c d e f'), (2, 'a b c x q r'), (3, 'z c d e y w')"
        ") t(doc_id, text)"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(D.duplicated_spans_sql(k=3, min_count=2)).fetchall()
    }
    assert want == got


def test_duplicated_spans_matches_duckdb_twin(spark, sf_dir):
    import duckdb
    import os

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup as D
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = [
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in D.duplicated_spans(docs, k=4).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    want = con.execute(D.duplicated_spans_sql(k=4)).fetchall()
    assert sorted(got) == sorted(tuple(w) for w in want)
    assert len(got) > 0  # the synthetic corpus does repeat 4-grams


def test_cut_duplicated_spans_removes_exactly_the_spans(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup as D

    boiler = "one two three four five"  # 5 tokens, k=5 exact
    docs = spark.createDataFrame(
        [
            (1, "keep me " + boiler + " and me"),
            (2, boiler),
            (3, "nothing shared in this document at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in D.cut_duplicated_spans(docs, k=5).collect()}
    assert rows[1].text == "keep me and me"
    assert rows[1].n_tokens_kept == 4 and rows[1].n_tokens_cut == 5
    assert rows[2].text == "" and rows[2].n_tokens_kept == 0
    assert rows[3].text == "nothing shared in this document at all"
    assert rows[3].n_tokens_cut == 0
    import pytest

    with pytest.raises(ValueError):
        D.duplicated_spans(docs, k=1)
    with pytest.raises(ValueError):
        D.duplicated_spans(docs, min_count=1)


def test_lsh_bucket_cap_graceful_degradation(spark):
    """Round 13 (VERDICT r12 item 4): on a degenerate corpus (one
    boilerplate cluster of N identical docs) the banded join is
    quadratic in the cluster; max_bucket_size keeps each bucket's
    smallest doc_ids, so candidate pairs fall from C(N,2) to C(cap,2)
    and the riding audit reports exactly what was dropped."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    n, cap = 50, 10
    boiler = "the same boilerplate template text repeated verbatim here"
    rows = [(i, boiler) for i in range(n)]
    # plus one genuine near-dup pair of UNIQUE docs, outside any
    # oversized bucket — the cap must not touch its recall
    toks = [f"u{k}" for k in range(20)]
    rows.append((1000, " ".join(toks)))
    rows.append((1001, " ".join(toks[:19] + ["zz"])))
    docs = spark.createDataFrame(rows, DOCS)
    sig = dedup.minhash_signatures(docs)

    audit: dict = {}
    capped = dedup.lsh_candidate_pairs(
        sig, max_bucket_size=cap, audit=audit
    )
    pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # cluster pairs: only among the cap smallest doc_ids
    cluster = {(a, b) for a, b in pairs if a < 1000}
    assert cluster == {(a, b) for a in range(cap) for b in range(cap) if a < b}
    # the unique near-dup pair survives untouched
    assert (1000, 1001) in pairs

    counters = dedup.lsh_cap_audit(audit)
    # every band: the identical docs share one bucket; n - cap entries
    # dropped per band, and that bucket counted oversized once per band
    assert counters["oversized_buckets"] == 8
    assert counters["dropped_entries"] == 8 * (n - cap)

    # cap high enough -> exact banded behavior, zero-audit
    audit2: dict = {}
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sig).collect()
    }
    wide = dedup.lsh_candidate_pairs(sig, max_bucket_size=n + 10, audit=audit2)
    assert {(r.doc_a, r.doc_b) for r in wide.collect()} == uncapped
    assert dedup.lsh_cap_audit(audit2) == {
        "oversized_buckets": 0,
        "dropped_entries": 0,
    }

    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.lsh_candidate_pairs(sig, max_bucket_size=0)


def test_neardup_pairs_bucket_cap_threads_through(spark):
    """neardup_pairs(max_bucket_size=...) caps the candidate stage and
    still verifies exact Jaccard on the survivors; audit rides the
    materializing action neardup_pairs itself performs."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    boiler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, boiler) for i in range(20)]
    docs = spark.createDataFrame(rows, DOCS)
    audit: dict = {}
    out = dedup.neardup_pairs(
        docs, threshold=0.5, max_bucket_size=4, audit=audit
    )
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert pairs == {(a, b) for a in range(4) for b in range(4) if a < b}
    counters = dedup.lsh_cap_audit(audit)
    assert counters["oversized_buckets"] == 8
    assert counters["dropped_entries"] == 8 * 16
