"""BPE tokenizer training: Spark-vs-pure-Python parity, determinism,
encoding semantics, early stop."""

import pytest

from sales_analytics_etl_sql_powerbi_spark.operators import bpe


def _docs(spark):
    return spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new lower")],
        "doc_id long, text string",
    )


def test_bpe_train_matches_python_reference(spark):
    """The scd2-style cross-implementation witness: the distributed
    trainer and a pure-Python reference produce the IDENTICAL ordered
    merge list (same argmax, same lexicographic tie-break, same
    greedy left-to-right application)."""
    m = bpe.bpe_train(_docs(spark), n_merges=12)
    wc = {"low": 3, "lower": 2, "lowest": 1, "new": 2, "newer": 1, "newest": 1}
    assert m == bpe.bpe_train_py(wc, n_merges=12)
    assert m[:2] == [("l", "o"), ("lo", "w")]  # the textbook first merges


def test_bpe_train_deterministic_across_runs(spark):
    docs = _docs(spark)
    assert bpe.bpe_train(docs, n_merges=8) == bpe.bpe_train(docs, n_merges=8)


def test_bpe_train_early_stop_on_min_pair_count(spark):
    """Once no pair reaches min_pair_count, training stops before
    n_merges — a corpus of all-distinct characters learns nothing at
    min_pair_count above its repetition level."""
    docs = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    assert bpe.bpe_train(docs, n_merges=10, min_pair_count=3) == []
    with pytest.raises(ValueError):
        bpe.bpe_train(docs, n_merges=0)


def _encode(docs, merges):
    return bpe.bpe_encode_vocab(bpe.exploded_tokens(docs), merges)


def test_bpe_encode_full_words_and_subword_splits(spark):
    """Frequent words collapse to single tokens; rarer words split at
    learned boundaries; concatenating subwords (minus the end marker)
    reconstructs every original token."""
    docs = _docs(spark)
    merges = bpe.bpe_train(docs, n_merges=10)
    rows = _encode(docs, merges).collect()
    by_tok = {}
    for r in rows:
        by_tok[r.token] = r.subwords
        joined = "".join(r.subwords).replace("▁", "")
        assert joined == r.token  # lossless reconstruction
    assert by_tok["low"] == ["low▁"]
    assert by_tok["lower"] == ["low", "er▁"]


def test_bpe_vocab_ids_stable_under_model_growth(spark):
    """With a FIXED alphabet, extending the model with more merges
    APPENDS ids — existing assignments never renumber (the
    checkpoint-compatibility property). The merges-derived default
    does NOT guarantee this (a later merge touching a new character
    shifts the sorted base) — pinned as the documented caveat."""
    docs = _docs(spark)
    m8 = bpe.bpe_train(docs, n_merges=8)
    m12 = bpe.bpe_train(docs, n_merges=12)
    assert m12[:8] == m8
    alphabet = sorted(set("lowerstnew"))
    ids8 = bpe.bpe_vocab_ids(m8, alphabet=alphabet)
    ids12 = bpe.bpe_vocab_ids(m12, alphabet=alphabet)
    for sym, i in ids8.items():
        assert ids12[sym] == i
    assert len(ids12) > len(ids8)
    assert sorted(ids12.values()) == list(range(len(ids12)))  # dense
    # derived-alphabet mode: same symbols, ids dense, but growth MAY
    # renumber (no cross-model assertion — that is the caveat)
    d8 = bpe.bpe_vocab_ids(m8)
    assert sorted(d8.values()) == list(range(len(d8)))


def test_bpe_encode_ids_roundtrip_and_oov(spark):
    """Known symbols map to their table ids; a token with characters
    the model never saw maps those subwords to −1 and counts them."""
    docs = _docs(spark)
    merges = bpe.bpe_train(docs, n_merges=10)
    ids = bpe.bpe_vocab_ids(merges)

    def encode_ids(d):
        return {
            r.token: r
            for r in _encode(d, merges)
            .select("token", "subwords", bpe.subword_ids_expr(ids).alias("ids"))
            .collect()
        }

    for tok, r in encode_ids(docs).items():
        assert r.ids == [ids.get(s, -1) for s in r.subwords]
        assert -1 not in r.ids
    # an unseen-character doc: 'z' and 'q' never appear in training
    oov_docs = spark.createDataFrame(
        [(9, "zq low")], "doc_id long, text string"
    )
    oov_rows = encode_ids(oov_docs)
    assert oov_rows["zq"].ids.count(-1) >= 2
    assert -1 not in oov_rows["low"].ids


def test_bpe_encode_rejects_ill_formed_merge_list(spark):
    """An operand that is neither a single char nor the product of an
    earlier merge can never fire: a loud raise, not a silently
    dropped merge."""
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="ill-formed merge list"):
        _encode(docs, [("ab", "c")])  # 'ab' never derived
    # well-formed: second pair's operand is the first pair's product
    ok = _encode(docs, [("a", "b"), ("ab", bpe._EOW)])
    assert [r.subwords for r in ok.collect()] == [["ab▁"]]
