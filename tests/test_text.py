"""Text-analysis operators: stats, token counts, lang-id, fingerprints."""

from pyspark.sql import functions as F

from sales_analytics_etl_sql_powerbi_spark.operators import text

DOCS = "doc_id long, text string, lang string"


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "the cat the cat runs", "en")], DOCS)
    r = text.text_stats(df).first()
    assert r.n_chars == 20
    assert r.n_tokens == 5
    assert r.n_unique_tokens == 3
    assert abs(r.avg_token_len - 16 / 5) < 1e-12
    assert abs(r.stopword_ratio - 2 / 5) < 1e-12  # 'the' x2
    assert abs(r.ttr - 3 / 5) < 1e-12


def test_token_count_bpe(spark):
    df = spark.createDataFrame([(1, "hello world42!", "en")], DOCS)
    r = text.token_count_bpe(df).first()
    # hello | world | 42 | !
    assert r.n_bpe_tokens == 4
    assert r.n_ws_tokens == 2


def test_lang_id_winner_and_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, "der hund und die katze", "de"),
            (2, "the cat and the dog", "en"),
            (3, "zzz qqq www", "xx"),  # no markers: tie -> first lang asc
        ],
        DOCS,
    )
    got = {r.doc_id: (r.predicted_lang, r.marker_hits) for r in text.lang_id(df).collect()}
    assert got[1] == ("de", 3)  # der, und, die
    assert got[2][0] == "en"
    assert got[3] == ("de", 0)  # deterministic tie-break: first of sorted langs


def test_doc_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, "gamma alpha beta", "en")], DOCS
    )
    rows = {r.doc_id: r for r in text.doc_fingerprint(df).collect()}
    assert rows[1].fingerprint == rows[2].fingerprint  # same token set
    assert rows[1].exact_hash != rows[2].exact_hash  # different raw text


def test_text_stats_gopher_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "see # and … plus ... marks", "en"),  # 3 symbols / 7 tokens
            (2, "- one\n- two\n* three\nplain", "en"),  # 3 bullet lines of 4
            (3, "same line\nsame line\nsame line\nother", "en"),  # dups
            (4, "42 99 !! alpha beta", "en"),  # 2 alpha of 5 tokens
        ],
        DOCS,
    )
    got = {r.doc_id: r for r in text.text_stats(df).collect()}
    assert abs(got[1].symbol_ratio - 3 / 7) < 1e-12
    assert abs(got[2].bullet_line_ratio - 3 / 4) < 1e-12
    assert abs(got[3].dup_line_ratio - (1 - 2 / 4)) < 1e-12
    assert abs(got[4].alpha_word_ratio - 2 / 5) < 1e-12
    # single-line prose: no bullets, no dup lines, no symbols
    assert got[1].bullet_line_ratio == 0.0
    assert got[1].dup_line_ratio == 0.0
    assert got[4].symbol_ratio == 0.0


def test_quality_filter_gopher_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "unique interesting varied vocabulary sentence here", "en"),
            (2, "alpha # beta … gamma ... delta epsilon zeta # eta", "en"),  # symbols
            (3, "111 222 333 444 555 666 777 alpha", "en"),  # non-alpha words
            (4, "- a1\n- b2\n- c3\n- d4\n- e5\n- f6", "en"),  # all bullets
            (
                5,
                "same line here\nsame line here\nsame line here\n"
                "same line here\nother line x",
                "en",
            ),  # dup lines
        ],
        DOCS,
    )
    kept = {r.doc_id for r in text.quality_filter(df).collect()}
    assert kept == {1}


def test_quality_filter_thresholds(spark):
    df = spark.createDataFrame(
        [
            (1, "unique interesting varied vocabulary sentence here", "en"),
            (2, "the the the the the the the the the the", "en"),  # stopword spam
            (3, "too short", "en"),  # < 5 tokens
        ],
        DOCS,
    )
    kept = {r.doc_id for r in text.quality_filter(df).collect()}
    assert kept == {1}


def test_corpus_clean_dedups_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "unique interesting varied vocabulary sentence here", "en"),
            (2, "unique interesting varied vocabulary sentence here", "en"),  # dup of 1
            (3, "ein anderer ordentlich langer deutscher satz hier", "de"),
            (4, "too short", "en"),  # filtered
        ],
        DOCS,
    )
    got = {r.lang: r.n_docs for r in text.corpus_clean(df).collect()}
    assert got == {"en": 1, "de": 1}


def test_chunk_documents_windows_and_overlap(spark):
    toks = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, toks, "en"), (2, "short doc", "en"), (3, None, "en")],
        "doc_id long, text string, lang string",
    )
    out = text.chunk_documents(docs, chunk_size=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,2,4,6 (last start < n_tokens - overlap), windows of ≤4
    c1 = by_doc[1]
    assert [r.chunk_id for r in c1] == [0, 1, 2, 3]
    assert c1[0].chunk_text == "t0 t1 t2 t3"
    assert c1[1].chunk_text == "t2 t3 t4 t5"  # 2-token overlap
    assert c1[3].chunk_text == "t6 t7 t8 t9"
    # short doc: one whole-doc chunk; NULL text: no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short doc"
    assert 3 not in by_doc


def test_vocab_topk_ranks_by_frequency(spark):
    docs = spark.createDataFrame(
        [(1, "b a a", "en"), (2, "a b c", "en")],
        "doc_id long, text string, lang string",
    )
    rows = text.vocab_topk(docs, topk=2).collect()
    assert [(r.token, r.n_occurrences, r.n_docs) for r in rows] == [
        ("a", 3, 2),
        ("b", 2, 2),
    ]


def test_scrub_pii_redacts_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.example.org today", "en"),
            (2, "see https://a.example.com/path?q=1 and http://b.co", "en"),
            (3, "nothing sensitive here", "en"),
            (4, None, "en"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r for r in text.scrub_pii(docs).collect()}
    assert got[1].scrubbed_text == "mail me at <EMAIL> today"
    assert (got[1].n_emails, got[1].n_urls) == (1, 0)
    assert got[2].scrubbed_text == "see <URL> and <URL>"
    assert got[2].n_urls == 2
    assert got[3].scrubbed_text == "nothing sensitive here"
    assert got[4].scrubbed_text is None and got[4].n_emails is None


def test_doc_profile_matches_per_operator_composition(spark):
    """The fused single-pass profile must be value-identical to running
    the four standalone operators and joining on doc_id (that is also
    the shape of its DuckDB oracle twin).

    The fixture deliberately covers the degenerate shapes where an
    independent reimplementation drifts first: NULL text (excluded from
    the profile — and must stay excluded), empty string, whitespace-only
    text, runs of internal spaces + leading/trailing space, unicode
    (accents, CJK, emoji), a single token, and duplicated tokens (the
    SimHash vote weight and fingerprint's distinct-set must agree)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "der hund und die katze", "de"),
            (2, "the fast cat of the house", "en"),
            (3, "el que de los rios", "es"),
            (4, "hello world42! mixed  spacing", "en"),
            (5, None, "en"),  # NULL text: excluded everywhere
            (6, "", "en"),  # empty string
            (7, "   ", "en"),  # whitespace-only
            (8, "  der   hund  und   die  ", "de"),  # space runs + padding
            (9, "café naïve 猫と犬 🚀 émigré", "fr"),  # unicode
            (10, "solo", "en"),  # single token
            (11, "the the the cat cat", "en"),  # duplicate tokens
        ],
        DOCS,
    )
    fused = {r.doc_id: r for r in text.doc_profile(df).collect()}
    toks = {r.doc_id: r for r in text.token_count_bpe(df).collect()}
    langs = {r.doc_id: r for r in text.lang_id(df).collect()}
    fps = {r.doc_id: r for r in text.doc_fingerprint(df).collect()}
    sims = {r.doc_id: r for r in dedup.simhash(df).collect()}
    assert set(fused) == {1, 2, 3, 4, 6, 7, 8, 9, 10, 11}  # 5 (NULL) dropped
    assert 5 not in sims  # standalone simhash drops NULL text too
    for i, r in fused.items():
        assert r.n_bpe_tokens == toks[i].n_bpe_tokens
        assert r.n_ws_tokens == toks[i].n_ws_tokens
        assert r.labeled_lang == langs[i].labeled_lang
        assert r.predicted_lang == langs[i].predicted_lang
        assert r.marker_hits == langs[i].marker_hits
        assert r.fingerprint == fps[i].fingerprint
        assert r.exact_hash == fps[i].exact_hash
        assert r.simhash == sims[i].simhash


def test_doc_profile_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "a b c", "en")], DOCS)
    plan = text.doc_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # one scan-side projection


def test_decontaminate_flags_benchmark_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "quick brown fox is here today with news", "en"),
            (3, "completely unrelated text about sales data", "en"),
            (4, "brown fox", "en"),  # short doc: whole text is one shingle
        ],
        DOCS,
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox jumps high", "en")], DOCS
    )
    got = {r.doc_id: r for r in text.decontaminate(docs, bench, k=3).collect()}
    # doc 1 shares 'quick brown fox' + 'brown fox jumps' -> contaminated
    assert got[1].contaminated and got[1].n_contaminated_shingles >= 2
    # doc 2 shares only 'quick brown fox' -> below min_overlap=2
    assert not got[2].contaminated and got[2].n_contaminated_shingles == 1
    assert not got[3].contaminated and got[3].n_contaminated_shingles == 0
    assert not got[4].contaminated  # 'brown fox' 2-gram is not a bench 3-gram


def test_corpus_clean_drops_contaminated_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    docs = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, "unrelated healthy document with plenty of distinct tokens here", "en"),
            (3, "another clean document carrying many different words indeed", "de"),
        ],
        DOCS,
    )
    bench = spark.createDataFrame([(9, base, "en")], DOCS)
    with_bm = {
        (r.lang): r.n_docs
        for r in text.corpus_clean(docs, benchmark=bench).collect()
    }
    without_bm = {
        (r.lang): r.n_docs for r in text.corpus_clean(docs).collect()
    }
    assert without_bm.get("en", 0) == with_bm.get("en", 0) + 1  # doc 1 dropped
    assert with_bm.get("de") == without_bm.get("de")


def test_dup_trigram_ratio_values(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (0, "a b c a b c a b c"),  # 7 trigrams, 3 distinct -> 4/7 dup
            (1, "all distinct words here now"),  # no repeats -> 0.0
            (2, "a b"),  # too short -> 0.0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.dup_trigram_ratio for r in T.text_stats(docs).collect()}
    assert abs(out[0] - (1.0 - 3 / 7)) < 1e-12
    assert out[1] == 0.0
    assert out[2] == 0.0


def test_scrub_pii_ip_and_phone(spark):
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (0, "call 555-123-4567 or +1 (555) 123-4567 now"),
            (1, "server at 192.168.0.1 and 10.0.0.255 responded"),
            (2, "mail a@b.com at http://x.io from 1.2.3.4 tel 555-000-1111"),
            (3, "version 1.2.3 is not an ip; 12345 is not a phone"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.scrub_pii(docs).collect()}
    assert rows[0].n_phones == 2 and "<PHONE>" in rows[0].scrubbed_text
    assert "555" not in rows[0].scrubbed_text
    assert rows[1].n_ipv4 == 2 and rows[1].scrubbed_text.count("<IP>") == 2
    assert rows[2].n_emails == 1 and rows[2].n_urls == 1
    assert rows[2].n_ipv4 == 1 and rows[2].n_phones == 1
    assert rows[3].n_ipv4 == 0 and rows[3].n_phones == 0
    # cross-engine: DuckDB twin produces byte-identical scrubbed text
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    got = {
        int(r[0]): r[1]
        for r in con.execute(T.scrub_pii_sql()).fetchall()
    }
    assert got == {d: rows[d].scrubbed_text for d in rows}


def test_dup_line_char_ratio_weights_by_mass(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    big = "x" * 90
    docs = spark.createDataFrame(
        [
            (0, f"{big}\n{big}\nshort"),  # excess copy = 90 of 185 chars
            (1, "a\nb\nc"),  # no repeats
            (2, ""),  # empty -> 0.0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.dup_line_char_ratio for r in T.text_stats(docs).collect()}
    assert abs(out[0] - 90 / 185) < 1e-12
    assert out[1] == 0.0
    assert out[2] == 0.0


# ---------------------------------------------------------------------------
# TF-IDF / BM25 (round 6)
# ---------------------------------------------------------------------------


def _retrieval_docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark runs fast queries fast"),
            (2, "duckdb runs queries"),
            (3, "spark spark spark optimizer"),
            (4, "completely unrelated text about cats"),
            (5, ""),
        ],
        "doc_id long, text string",
    )


def test_tfidf_matches_duckdb_twin(spark):
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = _retrieval_docs(spark)
    got = {
        (r.doc_id, r.token): (r.tf, r.df, r.tfidf)
        for r in T.tfidf_terms(docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(r.doc_id, r.text) for r in docs.collect()],
    )
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(T.tfidf_terms_sql()).fetchall()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1]
        assert abs(got[k][2] - want[k][2]) < 1e-9  # ln() ulp tolerance
    # hand check: 'spark' appears in 2 docs of 5 → idf = ln(6/3)+1
    import math

    assert abs(got[(3, "spark")][2] - 3 * (math.log(6 / 3) + 1)) < 1e-9


def test_bm25_matches_duckdb_twin_and_ranks_sanely(spark):
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = _retrieval_docs(spark)
    query = ["spark", "queries"]
    got = T.bm25_search(docs, query, topk=10).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(r.doc_id, r.text) for r in docs.collect()],
    )
    want = con.execute(T.bm25_search_sql(query, topk=10)).fetchall()
    assert [r.doc_id for r in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g.score - w[1]) < 1e-9
        assert g.n_matched_terms == w[2]
    # the doc matching BOTH query terms must outrank single-term docs
    assert got[0].doc_id == 1 and got[0].n_matched_terms == 2
    # doc 4 (no query terms) and doc 5 (empty) never appear
    assert {r.doc_id for r in got}.isdisjoint({4, 5})


def test_bm25_plan_filters_before_shuffle_no_window(spark):
    """Scale guard: the query-token filter sits under the aggregate
    (only matching tokens shuffle), and there is no window/cartesian
    over the corpus — the corpus-sized side never sorts globally."""
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = _retrieval_docs(spark)
    df = T.bm25_search(docs, ["spark"], topk=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    import pytest

    with pytest.raises(ValueError):
        T.bm25_search(docs, [])


def test_bm25_query_token_with_backslash_matches_twin(spark):
    """A query token containing a backslash must be matched literally
    (ADVICE r6: the old rendered-expr unpivot re-parsed '\\b' as a SQL
    escape → backspace, silently diverging from the DuckDB twin)."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, r"path c:\bin and more"), (2, "plain words only"), (3, r"c:\bin again c:\bin")],
        "doc_id long, text string",
    )
    got = T.bm25_search(docs, [r"c:\bin"], topk=5).collect()
    assert {r.doc_id for r in got} == {1, 3}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(r.doc_id, r.text) for r in docs.collect()],
    )
    want = con.execute(T.bm25_search_sql([r"c:\bin"], topk=5)).fetchall()
    assert [r.doc_id for r in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g.score - w[1]) < 1e-9


def test_unigram_logprob_self_corpus_values_and_twin(spark):
    """Hand-checked self-corpus unigram scores + DuckDB twin parity
    (1e-9 tolerance — ln ulp) + NULL for token-less docs."""
    import math

    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "   ")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.unigram_logprob(docs).collect()}
    # corpus: a=2, b=2, c=1, N=5
    exp1 = (2 * math.log(2 / 5) + math.log(2 / 5)) / 3
    exp2 = (math.log(2 / 5) + math.log(1 / 5)) / 2
    assert abs(rows[1].avg_logprob - exp1) < 1e-12 and rows[1].n_tokens == 3
    assert abs(rows[2].avg_logprob - exp2) < 1e-12 and rows[2].n_tokens == 2
    assert rows[3].avg_logprob is None and rows[3].n_tokens == 0
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(r.doc_id, r.text) for r in docs.collect()],
    )
    for doc_id, n_tok, lp in con.execute(T.unigram_logprob_sql()).fetchall():
        assert rows[doc_id].n_tokens == n_tok
        if lp is None:
            assert rows[doc_id].avg_logprob is None
        else:
            assert abs(rows[doc_id].avg_logprob - lp) < 1e-9


def test_unigram_logprob_external_lm_smoothing(spark):
    """External-LM mode: unseen tokens get add-one smoothing
    ln((c+1)/(N+V)), seen tokens ln((c+1)/(N+V)) too (consistent
    smoothed estimator), and a surprising doc scores lower."""
    import math

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "common common"), (2, "zzzunseen")],
        "doc_id long, text string",
    )
    lm = spark.createDataFrame(
        [("common", 9), ("rare", 1)], "token string, count long"
    )
    rows = {r.doc_id: r for r in T.unigram_logprob(docs, lm=lm).collect()}
    n, v = 10, 2
    assert abs(rows[1].avg_logprob - math.log((9 + 1) / (n + v))) < 1e-12
    assert abs(rows[2].avg_logprob - math.log(1 / (n + v))) < 1e-12
    assert rows[2].avg_logprob < rows[1].avg_logprob


def test_unigram_logprob_plan_no_window_no_cartesian(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    plan = (
        T.unigram_logprob(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_repetition_signals_conventions(spark):
    """Pins doc_profile's repetition signals: the mode convention (ties
    → lexicographically smallest bigram), the consecutive-run
    semantics, and the <2-token edge — against the DuckDB twin that
    takes the explode/group-by/window route instead of the in-row
    sorted-run fold."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b c"),  # 'a b' ×3 beats 'b a' ×2
            (2, "x x x x y"),      # run of 4; 'x x' ×3
            (3, "solo"),           # no bigrams → (NULL, 0), run 1
            (4, ""),               # single empty token
            (6, "b a b a a b"),    # 'b a'×2 and 'a b'×2 tie → 'a b'
            (7, "t t s s t t"),    # tie 's s'? 's s'×1,'t t'×2 → 't t'
            # 'z y'×2, 'y z'×2, 'z x'×2, 'x z'×1 → smallest maximum 'y z'
            (9, "z y z x z y z x"),
        ],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en"))
    cols = ["doc_id", "top_bigram", "top_bigram_n", "max_token_run"]
    prof = T.doc_profile(docs).select(*cols)
    rows = {r.doc_id: r for r in prof.collect()}
    assert (rows[1].top_bigram, rows[1].top_bigram_n) == ("a b", 3)
    assert rows[1].max_token_run == 1
    assert (rows[2].top_bigram, rows[2].top_bigram_n) == ("x x", 3)
    assert rows[2].max_token_run == 4
    assert (rows[3].top_bigram, rows[3].top_bigram_n) == (None, 0)
    assert rows[3].max_token_run == 1
    assert (rows[4].top_bigram, rows[4].top_bigram_n) == (None, 0)
    assert (rows[6].top_bigram, rows[6].top_bigram_n) == ("a b", 2)
    assert (rows[7].top_bigram, rows[7].top_bigram_n) == ("t t", 2)
    assert (rows[9].top_bigram, rows[9].top_bigram_n) == ("y z", 2)
    con = duckdb.connect()
    con.register("docs_py", docs.toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_py")
    twin = f"SELECT {', '.join(cols)} FROM ({T.REPETITION_SIGNALS_SQL})"
    orows = sorted(tuple(t) for t in con.execute(twin).fetchall())
    srows = sorted(tuple(r) for r in prof.collect())
    assert srows == orows
