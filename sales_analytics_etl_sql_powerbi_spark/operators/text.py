"""Text-analysis operators for training-data pipelines (beyond-reference).

Language-ID (stopword heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting over the
``documents`` table. All pure Column expressions — no Python in the
executor path, so a 100 TB corpus scans in one codegen'd pass.

Each function has an exact DuckDB twin in ``TEXT_*_SQL`` constants for
the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens_expr",
    "text_stats",
    "token_count_bpe",
    "lang_id",
    "doc_fingerprint",
    "doc_profile",
    "doc_profile_sql",
    "REPETITION_SIGNALS_SQL",
    "decontaminate",
    "decontaminate_sql",
    "chunk_documents",
    "chunk_documents_sql",
    "vocab_topk",
    "vocab_topk_sql",
    "scrub_pii",
    "scrub_pii_sql",
    "tfidf_terms",
    "tfidf_terms_sql",
    "bm25_search",
    "bm25_search_sql",
    "unigram_logprob",
    "unigram_logprob_sql",
    "DEFAULT_STOPWORDS",
    "LANG_MARKERS",
]

#: words that actually occur in corpora like the testdata vocabulary
DEFAULT_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "row", "value")

#: tiny per-language marker lists for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("a", "the", "of", "and", "fast", "slow"),
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "la", "de", "que", "los"),
}

_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens_expr(col: str = "text") -> Column:
    """Whitespace tokenization (split on space runs, trimmed)."""
    return F.split(F.trim(F.col(col)), " +")


def _in_list_count(tokens: Column, words: tuple[str, ...]) -> Column:
    """COUNT of tokens that appear in ``words`` (higher-order filter)."""
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def exploded_tokens(docs: DataFrame, drop_empty: bool = True) -> DataFrame:
    """(doc_id, token) rows — THE shared tokenize-and-explode step, so
    the token contract cannot drift between the operators built on it
    (vocab_topk, tfidf_terms, bm25_search).
    ``drop_empty`` additionally drops zero-length tokens (the
    retrieval operators' contract; vocab_topk keeps its original
    NULL-only filter for oracle-hash stability)."""
    out = docs.select(
        "doc_id", F.explode_outer(tokens_expr("text")).alias("token")
    ).where(F.col("token").isNotNull())
    if drop_empty:
        out = out.where(F.length("token") > 0)
    return out


#: symbols the Gopher-style symbol-to-word ratio counts: '#', an ASCII
#: ellipsis, or the unicode one (Rae et al. 2021's published filter)
_SYMBOL_RE = r"#|\.\.\.|…"
#: bullet markers for the bullet-line ratio (leading -, *, or •)
_BULLET_RE = r"^[-*•]"


def text_stats(docs: DataFrame, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> DataFrame:
    """Per-document quality stats: lengths, token counts, ratios.

    Includes the Gopher-style repetition/shape signals a pre-training
    quality gate thresholds on (symbol-to-word ratio, fraction of
    words with an alphabetic char, bullet-line fraction, duplicate-line
    fraction) — all exact integer counts over the in-row token/line
    lists divided in binary64, so the DuckDB twin reproduces every
    value bit-for-bit. Still ONE fused scan-side projection.
    """
    toks = tokens_expr("text")
    d = docs.withColumn("__tok", toks)
    n_tokens = F.size(F.col("__tok"))

    def sum_lengths(arr):
        return F.aggregate(
            F.transform(arr, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    sum_len = sum_lengths(F.col("__tok"))
    stop_n = _in_list_count(F.col("__tok"), stopwords)
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    bullet_n = F.size(F.filter(lines, lambda l: F.trim(l).rlike(_BULLET_RE)))
    alpha_n = F.size(F.filter(F.col("__tok"), lambda t: t.rlike("[A-Za-z]")))
    symbol_n = F.regexp_count(F.col("text"), F.lit(_SYMBOL_RE))
    # Gopher's repeated-n-gram signal (count-fraction form): share of
    # word trigrams that are repeats of an earlier trigram; 0.0 for
    # docs too short to have 3-grams. Same element_at construction as
    # dedup.shingle_sets — in-row array ops, no explode.
    grams3 = F.transform(
        F.sequence(F.lit(0), n_tokens - 3),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("__tok"), i + j + 1) for j in range(3)]
        ),
    )
    dup3 = F.when(
        n_tokens >= 3,
        F.lit(1.0)
        - F.size(F.array_distinct(grams3)).cast("double")
        / F.size(grams3).cast("double"),
    ).otherwise(F.lit(0.0))
    # char-weighted repetition (the Gopher signals weight by mass, not
    # count): fraction of characters in EXCESS line copies — a doc
    # whose one duplicated line is 90% of its bytes scores high even
    # though dup_line_ratio (count form) barely moves
    total_line_chars = sum_lengths(lines)
    dup_line_chars = F.when(
        total_line_chars > 0,
        F.lit(1.0)
        - sum_lengths(F.array_distinct(lines)).cast("double")
        / total_line_chars.cast("double"),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__tok")).cast("long").alias("n_unique_tokens"),
        (sum_len.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
        (stop_n.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
        (
            F.size(F.array_distinct("__tok")).cast("double")
            / n_tokens.cast("double")
        ).alias("ttr"),
        (symbol_n.cast("double") / n_tokens.cast("double")).alias("symbol_ratio"),
        (alpha_n.cast("double") / n_tokens.cast("double")).alias(
            "alpha_word_ratio"
        ),
        (bullet_n.cast("double") / n_lines.cast("double")).alias(
            "bullet_line_ratio"
        ),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / n_lines.cast("double")
        ).alias("dup_line_ratio"),
        dup3.alias("dup_trigram_ratio"),
        dup_line_chars.alias("dup_line_char_ratio"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
  cast(length(text) AS BIGINT) AS n_chars,
  cast(len(__tok) AS BIGINT) AS n_tokens,
  cast(len(list_distinct(__tok)) AS BIGINT) AS n_unique_tokens,
  cast(list_sum(list_transform(__tok, t -> length(t))) AS DOUBLE)
    / cast(len(__tok) AS DOUBLE) AS avg_token_len,
  cast(len(list_filter(__tok, t -> list_contains([{stop}], t))) AS DOUBLE)
    / cast(len(__tok) AS DOUBLE) AS stopword_ratio,
  cast(len(list_distinct(__tok)) AS DOUBLE) / cast(len(__tok) AS DOUBLE) AS ttr,
  cast(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS DOUBLE)
    / cast(len(__tok) AS DOUBLE) AS symbol_ratio,
  cast(len(list_filter(__tok, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
    / cast(len(__tok) AS DOUBLE) AS alpha_word_ratio,
  cast(len(list_filter(__line, l -> regexp_matches(trim(l, ' '), '^[-*•]'))) AS DOUBLE)
    / cast(len(__line) AS DOUBLE) AS bullet_line_ratio,
  1.0 - cast(len(list_distinct(__line)) AS DOUBLE)
    / cast(len(__line) AS DOUBLE) AS dup_line_ratio,
  CASE WHEN len(__tok) >= 3 THEN
    1.0 - cast(len(list_distinct(__g3)) AS DOUBLE)
      / cast(len(__g3) AS DOUBLE)
  ELSE 0.0 END AS dup_trigram_ratio,
  CASE WHEN list_sum(list_transform(__line, l -> length(l))) > 0 THEN
    1.0 - cast(list_sum(list_transform(list_distinct(__line), l -> length(l))) AS DOUBLE)
      / cast(list_sum(list_transform(__line, l -> length(l))) AS DOUBLE)
  ELSE 0.0 END AS dup_line_char_ratio
FROM (SELECT *,
             list_transform(range(1, len(__tok) - 1),
                            i -> __tok[i] || ' ' || __tok[i + 1] || ' ' || __tok[i + 2])
               AS __g3
      FROM (SELECT *, string_split_regex(trim(text, ' '), ' +') AS __tok,
                   string_split(text, chr(10)) AS __line
            FROM documents) t) d
"""


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting: letter runs, digit runs, single symbols."""
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(tokens_expr("text")).cast("long").alias("n_ws_tokens"),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
  cast(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
  cast(len(string_split_regex(trim(text, ' '), ' +')) AS BIGINT) AS n_ws_tokens
FROM documents
"""


def _lang_argmax(tok_col, markers: dict[str, tuple[str, ...]]):
    """(predicted_lang, marker_hits) Columns — the ONE shared argmax
    builder for :func:`lang_id` and the fused :func:`doc_profile`
    (score per language = marker hits; winner by score desc, lang asc),
    so the fused reimplementation cannot drift from the standalone."""
    scores = {lang: _in_list_count(tok_col, words) for lang, words in markers.items()}
    langs = sorted(markers)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        improved = scores[lang] > best_score
        best = F.when(improved, F.lit(lang)).otherwise(best)
        best_score = F.when(improved, scores[lang]).otherwise(best_score)
    return best, best_score


def lang_id(docs: DataFrame, markers: dict[str, tuple[str, ...]] | None = None) -> DataFrame:
    """Stopword-scored language heuristic with deterministic tie-break.

    Scores = marker hits per language; winner by (score desc, lang asc).
    """
    markers = markers or LANG_MARKERS
    d = docs.withColumn("__tok", tokens_expr("text"))
    best, best_score = _lang_argmax(F.col("__tok"), markers)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best.alias("predicted_lang"),
        best_score.cast("long").alias("marker_hits"),
    )


def lang_id_sql(markers: dict[str, tuple[str, ...]] | None = None) -> str:
    markers = markers or LANG_MARKERS
    langs = sorted(markers)

    def score(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in markers[lang])
        return f"len(list_filter(__tok, t -> list_contains([{lst}], t)))"

    pred = f"'{langs[0]}'"
    best = score(langs[0])
    for lang in langs[1:]:
        s = score(lang)
        pred = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {s} > {best} THEN {s} ELSE {best} END"
    return f"""
SELECT doc_id, lang AS labeled_lang, {pred} AS predicted_lang,
       cast({best} AS BIGINT) AS marker_hits
FROM (SELECT *, string_split_regex(trim(text, ' '), ' +') AS __tok FROM documents) d
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set — a cheap canonical-content hash for dedup
    bookkeeping (near-dup goes through MinHash, operators/dedup.py)."""
    toks = tokens_expr("text")
    canon = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return docs.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.md5(F.col("text")).alias("exact_hash"),
    )


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text, ' '), ' +'))), ' ')) AS fingerprint,
  md5(text) AS exact_hash
FROM documents
"""


def _top_bigram_expr(tok_col: str) -> Column:
    """struct(top string, n long): the most frequent adjacent bigram
    and its count — ties break to the lexicographically smallest.
    Computed IN-ROW: sort the bigram list, then one run-length fold
    over the sorted array (the per-row mode without a hashmap); a
    strict ``>`` keeps the first — therefore smallest — maximal run.
    Docs with <2 tokens yield (NULL, 0)."""
    return F.expr(
        f"""
        aggregate(
          array_sort(CASE WHEN size({tok_col}) >= 2 THEN
            transform(sequence(1, size({tok_col}) - 1),
                      i -> concat(element_at({tok_col}, i), ' ',
                                  element_at({tok_col}, i + 1)))
            ELSE array() END),
          named_struct('prev', cast(null as string), 'run', 0L,
                       'best_n', 0L, 'best', cast(null as string)),
          (acc, x) -> named_struct(
            'prev', x,
            'run', CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1L END,
            'best_n', CASE WHEN (CASE WHEN x <=> acc.prev
                                 THEN acc.run + 1 ELSE 1L END) > acc.best_n
                      THEN (CASE WHEN x <=> acc.prev
                            THEN acc.run + 1 ELSE 1L END)
                      ELSE acc.best_n END,
            'best', CASE WHEN (CASE WHEN x <=> acc.prev
                               THEN acc.run + 1 ELSE 1L END) > acc.best_n
                    THEN x ELSE acc.best END),
          acc -> named_struct('top', acc.best, 'n', acc.best_n))
        """
    )


def _max_run_expr(tok_col: str) -> Column:
    """Longest run of CONSECUTIVE equal tokens (long; 0 for an empty
    list) — one fold over the unsorted in-row token list."""
    return F.expr(
        f"""
        aggregate(
          {tok_col},
          named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
          (acc, x) -> named_struct(
            'prev', x,
            'run', CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1L END,
            'best', greatest(acc.best,
                             CASE WHEN x <=> acc.prev
                             THEN acc.run + 1 ELSE 1L END)),
          acc -> acc.best)
        """
    )


#: DuckDB twin of doc_profile's repetition signals — deliberately the
#: OTHER route:
#: unnest to rows, group-by counts, window rank for the mode,
#: gaps-and-islands (position − per-token row_number) for the run
REPETITION_SIGNALS_SQL = """
SELECT t.doc_id,
       cast(greatest(t.n - 1, 0) AS BIGINT) AS n_bigrams,
       tb.bigram AS top_bigram,
       cast(coalesce(tb.c, 0) AS BIGINT) AS top_bigram_n,
       cast(coalesce(mr.max_run, 0) AS BIGINT) AS max_token_run
FROM (
  SELECT doc_id, string_split_regex(trim(text, ' '), ' +') AS __tok,
         len(string_split_regex(trim(text, ' '), ' +')) AS n
  FROM documents WHERE text IS NOT NULL
) t
LEFT JOIN (
  SELECT doc_id, bigram, c FROM (
    SELECT doc_id, bigram, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, bigram ASC) AS rn
    FROM (
      SELECT doc_id, bigram, count(*) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, n),
                      i -> __tok[i] || ' ' || __tok[i + 1])) AS bigram
        FROM (SELECT doc_id, string_split_regex(trim(text, ' '), ' +') AS __tok,
                     len(string_split_regex(trim(text, ' '), ' +')) AS n
              FROM documents WHERE text IS NOT NULL) b
        WHERE n >= 2) g
      GROUP BY doc_id, bigram) cnt) rk
  WHERE rn = 1
) tb ON t.doc_id = tb.doc_id
LEFT JOIN (
  SELECT doc_id, max(run_len) AS max_run FROM (
    SELECT doc_id, tok, grp, count(*) AS run_len FROM (
      SELECT doc_id, tok, i
             - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp,
             i
      FROM (
        SELECT doc_id, i, __tok[i] AS tok FROM (
          SELECT doc_id, __tok,
                 unnest(generate_series(1, len(__tok))) AS i
          FROM (SELECT doc_id,
                       string_split_regex(trim(text, ' '), ' +') AS __tok
                FROM documents WHERE text IS NOT NULL) p0) p1) p2) p3
    GROUP BY doc_id, tok, grp) runs
  GROUP BY doc_id
) mr ON t.doc_id = mr.doc_id
"""


def text_stats_sql(stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> str:
    return TEXT_STATS_SQL.format(stop=", ".join(f"'{w}'" for w in stopwords))


_PROFILE_SIM_BITS = 32


def doc_profile(docs: DataFrame, markers: dict[str, tuple[str, ...]] | None = None) -> DataFrame:
    """Per-document signature profile, fused into ONE scan-side projection:
    token counts (BPE-ish + whitespace), predicted language, content
    fingerprints, and a 32-bit SimHash — the columns a corpus curation
    pass annotates every document with before routing.

    Value-identical to running :func:`token_count_bpe` ⋈ :func:`lang_id`
    ⋈ :func:`doc_fingerprint` ⋈ ``dedup.simhash`` on doc_id (that is the
    oracle twin, :func:`doc_profile_sql`) — but with no joins and no
    explode/groupBy shuffle: the SimHash bit votes run as higher-order
    array folds over the in-row token list, so a 100 TB corpus annotates
    in a single embarrassingly-parallel pass.
    """
    markers = markers or LANG_MARKERS
    # NULL-text docs are excluded (nothing to profile): matches the
    # oracle twin, whose inner join against the simhash subquery —
    # token streams only exist for non-NULL text — drops them too.
    d = docs.where(F.col("text").isNotNull()).withColumn(
        "__tok", tokens_expr("text")
    )
    # lang-id argmax — the same shared builder lang_id() uses
    best, best_score = _lang_argmax(F.col("__tok"), markers)
    # SimHash over lowercased tokens (dedup.simhash tokenization): 63-bit
    # md5 per token, ±1 vote per bit, folded per-row — no explode
    from .dedup import h63_from_md5

    lower_toks = F.split(F.lower(F.trim(F.col("text"))), " +")
    d = d.withColumn(
        "__h",
        F.transform(lower_toks, lambda t: h63_from_md5(F.md5(t))),
    )
    # ONE fold accumulates all 32 bit votes as an array (vs 32 separate
    # folds — 32x less generated code, one pass over the token hashes),
    # then a second tiny fold packs the sign vector into the integer
    b = _PROFILE_SIM_BITS
    packed = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              __h,
              array_repeat(0L, {b}),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, {b - 1}),
                          j -> CASE WHEN (shiftright(h, j) & 1) = 1
                               THEN 1L ELSE -1L END),
                (a, v) -> a + v)),
            sequence(0, {b - 1}),
            (s, j) -> CASE WHEN s >= 0 THEN shiftleft(1L, j) ELSE 0L END),
          0L, (a, t) -> a + t)
        """
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(F.col("__tok")).cast("long").alias("n_ws_tokens"),
        best.alias("predicted_lang"),
        best_score.cast("long").alias("marker_hits"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("__tok"))), " ")).alias(
            "fingerprint"
        ),
        F.md5(F.col("text")).alias("exact_hash"),
        packed.alias("simhash"),
        # repetition signals (round 10) — same fused-fold discipline;
        # the struct is projected ONCE and expanded so the bigram fold
        # runs a single time per row
        _top_bigram_expr("__tok").alias("__bg"),
        _max_run_expr("__tok").cast("long").alias("max_token_run"),
    ).select(
        "*",
        F.col("__bg")["top"].alias("top_bigram"),
        F.col("__bg")["n"].cast("long").alias("top_bigram_n"),
    ).drop("__bg").select(
        "doc_id",
        "labeled_lang",
        "n_bpe_tokens",
        "n_ws_tokens",
        "predicted_lang",
        "marker_hits",
        "fingerprint",
        "exact_hash",
        "simhash",
        "top_bigram",
        "top_bigram_n",
        "max_token_run",
    )


def doc_profile_sql(markers: dict[str, tuple[str, ...]] | None = None) -> str:
    """Oracle twin: the proven per-operator SQL twins joined on doc_id
    (the oracle runs once at sf0.01 — plan quality is irrelevant there;
    reusing the twins keeps one source of truth per operator)."""
    from .dedup import simhash_sql

    return f"""
SELECT t.doc_id, l.labeled_lang, t.n_bpe_tokens, t.n_ws_tokens,
       l.predicted_lang, l.marker_hits, f.fingerprint, f.exact_hash,
       s.simhash, r.top_bigram, r.top_bigram_n, r.max_token_run
FROM ({TOKEN_COUNT_SQL}) t
JOIN ({lang_id_sql(markers)}) l ON t.doc_id = l.doc_id
JOIN ({DOC_FINGERPRINT_SQL}) f ON t.doc_id = f.doc_id
JOIN ({simhash_sql()}) s ON t.doc_id = s.doc_id
JOIN ({REPETITION_SIGNALS_SQL}) r ON t.doc_id = r.doc_id
"""


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.6,
    min_ttr: float = 0.2,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    max_bullet_line_ratio: float = 0.9,
    max_dup_line_ratio: float = 0.3,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Training-data quality gate: keep docs passing all thresholds.

    The standard pre-training corpus filters — length, stopword
    density, type-token ratio, plus the Gopher-style shape rules
    (symbol-to-word ≤ 0.1, alphabetic-word fraction ≥ 0.8, bullet-line
    fraction ≤ 0.9, duplicate-line fraction ≤ 0.3; Rae et al. 2021's
    published defaults) — as ONE fused projection + filter, no extra
    pass. Returns the surviving docs with their stats attached.
    """
    return (
        text_stats(docs, stopwords)
        .where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("stopword_ratio") <= max_stopword_ratio)
            & (F.col("ttr") >= min_ttr)
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("alpha_word_ratio") >= min_alpha_word_ratio)
            & (F.col("bullet_line_ratio") <= max_bullet_line_ratio)
            & (F.col("dup_line_ratio") <= max_dup_line_ratio)
        )
        .select("doc_id", "n_tokens", "stopword_ratio", "ttr")
    )


def quality_filter_sql(
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.6,
    min_ttr: float = 0.2,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    max_bullet_line_ratio: float = 0.9,
    max_dup_line_ratio: float = 0.3,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> str:
    return f"""
SELECT doc_id, n_tokens, stopword_ratio, ttr
FROM ({text_stats_sql(stopwords)}) s
WHERE n_tokens >= {min_tokens}
  AND stopword_ratio <= {max_stopword_ratio}
  AND ttr >= {min_ttr}
  AND symbol_ratio <= {max_symbol_ratio}
  AND alpha_word_ratio >= {min_alpha_word_ratio}
  AND bullet_line_ratio <= {max_bullet_line_ratio}
  AND dup_line_ratio <= {max_dup_line_ratio}
"""


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, k: int = 3, min_overlap: int = 2
) -> DataFrame:
    """Benchmark decontamination — the pre-training hygiene step that
    keeps eval data out of the training corpus: flag every doc sharing
    at least ``min_overlap`` distinct lowercased word ``k``-grams with
    the benchmark corpus.

    Scale shape: the benchmark side (eval sets — thousands of rows,
    never TBs) distinct-reduces to its shingle vocabulary and
    BROADCASTS; the corpus side is one explode + broadcast hash join +
    doc-keyed count. Nothing corpus-sized shuffles — the only exchange
    carries (doc_id, hit) rows for docs that overlap at all
    (output-bound, like the LSH pair path).
    """
    from .dedup import shingle_docs

    bench_sh = shingle_docs(benchmark, k).select("shingle").distinct()
    hits = (
        shingle_docs(docs, k)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hits"))
    )
    n = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return docs.join(hits, "doc_id", "left").select(
        "doc_id",
        n.alias("n_contaminated_shingles"),
        (n >= min_overlap).alias("contaminated"),
    )


def decontaminate_sql(
    benchmark_source: str,
    corpus_source: str = "documents",
    k: int = 3,
    min_overlap: int = 2,
) -> str:
    from .dedup import _shingles_duck

    return f"""
WITH bench_sh AS (
  SELECT DISTINCT shingle FROM ({_shingles_duck(k, benchmark_source)}) b
),
hits AS (
  SELECT doc_id, count(DISTINCT shingle) AS n_hits
  FROM ({_shingles_duck(k, corpus_source)}) s
  JOIN bench_sh USING (shingle)
  GROUP BY doc_id
)
SELECT d.doc_id,
       cast(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated_shingles,
       coalesce(h.n_hits, 0) >= {min_overlap} AS contaminated
FROM {corpus_source} d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def corpus_clean(
    docs: DataFrame,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    benchmark: DataFrame | None = None,
    k: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """End-to-end corpus cleaning: quality gate → benchmark
    decontamination (when a ``benchmark`` frame is given) → exact dedup
    → per-lang counts. The composition a pre-training data pipeline
    runs nightly; every stage is the oracle-checked operator above,
    fused by Catalyst into one scan + one aggregate exchange per stage.
    """
    kept = quality_filter(docs, stopwords=stopwords).select("doc_id")
    surviving = docs.join(kept, "doc_id")
    if benchmark is not None:
        # contamination is a per-doc property vs the benchmark shingle
        # vocabulary only, so it runs over the RAW scan and intersects —
        # identical result to decontaminating the quality-filtered set,
        # without recomputing the quality stack under the shingle branch
        clean_ids = (
            decontaminate(docs, benchmark, k, min_overlap)
            .where(~F.col("contaminated"))
            .select("doc_id")
        )
        surviving = surviving.join(clean_ids, "doc_id")
    canonical = surviving.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        surviving.join(canonical, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        .orderBy("lang")
    )


def corpus_clean_sql(
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    benchmark_source: str | None = None,
    k: int = 3,
    min_overlap: int = 2,
) -> str:
    decontam = ""
    surviving_src = "surviving"
    if benchmark_source is not None:
        decontam = f""",
decontam AS ({decontaminate_sql(benchmark_source, "documents", k, min_overlap)}),
clean AS (
  SELECT s.* FROM surviving s
  JOIN decontam dc ON s.doc_id = dc.doc_id AND NOT dc.contaminated
)"""
        surviving_src = "clean"
    return f"""
WITH kept AS (SELECT doc_id FROM ({quality_filter_sql(stopwords=stopwords)}) q),
surviving AS (
  SELECT d.* FROM documents d JOIN kept k ON d.doc_id = k.doc_id
){decontam},
canonical AS (
  SELECT min(doc_id) AS doc_id FROM {surviving_src} GROUP BY md5(text)
)
SELECT s.lang, count(1) AS n_docs, cast(sum(length(s.text)) AS BIGINT) AS n_chars
FROM {surviving_src} s JOIN canonical c ON s.doc_id = c.doc_id
GROUP BY s.lang ORDER BY s.lang
"""


def chunk_documents(
    docs: DataFrame, chunk_size: int = 64, overlap: int = 16
) -> DataFrame:
    """Overlapping token-window chunking — the pre-training shard step.

    Each doc yields windows of ``chunk_size`` tokens starting every
    ``chunk_size - overlap`` tokens (the standard sliding chunker ahead
    of tokenize-and-pack). One explode per doc — output volume is
    ~n_tokens/(chunk_size-overlap) rows however large the corpus; no
    shuffle at all (chunking is embarrassingly parallel). NULL-text
    docs produce no chunks — filtered at the scan; explode_outer (not
    inner) keeps Catalyst's InferFiltersFromGenerate from duplicating
    the window expression (see dedup.shingle_docs for the war story).
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    step = chunk_size - overlap
    # NULL-text docs produce no chunks; the filter sits on the base
    # column so it pushes to the scan (greatest(NULL,0)=0 would
    # otherwise emit a NULL chunk row)
    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens_expr("text").alias("__tok")
    )
    n = F.size("__tok")
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(step)
    )
    exploded = d.select(
        "doc_id", "__tok", F.explode_outer(starts).alias("__start")
    ).where(F.col("__start").isNotNull())
    chunk = F.slice(F.col("__tok"), F.col("__start") + 1, chunk_size)
    return exploded.select(
        "doc_id",
        (F.col("__start") / step).cast("int").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


def chunk_documents_sql(chunk_size: int = 64, overlap: int = 16) -> str:
    step = chunk_size - overlap
    return f"""
SELECT doc_id,
       cast(__start / {step} AS INT) AS chunk_id,
       cast(len(__tok[__start + 1 : __start + {chunk_size}]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(__tok[__start + 1 : __start + {chunk_size}], ' ') AS chunk_text
FROM (
  SELECT doc_id, __tok,
         unnest(range(0, greatest(len(__tok) - {overlap} - 1, 0) + 1, {step})) AS __start
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), ' +') AS __tok
        FROM documents WHERE text IS NOT NULL) d
) e
ORDER BY doc_id, chunk_id
"""


def vocab_topk(
    docs: DataFrame, topk: int = 100, toks: DataFrame | None = None
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency with doc frequency.

    One explode + one groupBy(token) — counts partial-aggregate
    map-side; the distinct-doc count rides the same shuffle. The final
    top-k is a TakeOrderedAndProject over unique-token-sized data.

    ``toks``: optionally a precomputed ``exploded_tokens(docs,
    drop_empty=False)`` frame (typically persisted — round 18: a
    composition running several retrieval operators tokenizes the
    corpus ONCE instead of once per operator).
    """
    if toks is None:
        toks = exploded_tokens(docs, drop_empty=False)
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(topk)


def vocab_topk_sql(topk: int = 100) -> str:
    return f"""
SELECT token, count(1) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(text, ' '), ' +')) AS token
  FROM documents
) t
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT {topk}
"""


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
_URL_RE = "https?://[^ ]+"
#: both below use only RE2∩Java syntax (\d, \b, (?:)) — same dialect
#: rule as the email/url patterns above
_IPV4_RE = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
_PHONE_RE = "\\+?\\d{0,3}[-. ]?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b"


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, URLs, IPv4 addresses and phone numbers — the
    standard pre-training PII pass.

    Chained regexp_replace over one scan (fused projection), with
    per-doc redaction counts (on the ORIGINAL text) for audit. Regexes
    use only RE2∩Java syntax so the Spark and DuckDB dialects agree;
    replacement order (email → url → ip → phone) is part of the
    contract — the counts are order-independent, the scrubbed text is
    not.

    Count semantics (deliberate, cheap — one pass over the original
    text per pattern): each pattern counts INDEPENDENTLY, so
    overlapping matches double-count (an email inside a URL increments
    both ``n_emails`` and ``n_urls``) and the IPv4 pattern matches any
    dotted quad including version strings like ``10.0.0.1-beta`` —
    counts are an upper bound on actual redactions, an AUDIT signal,
    not an exact redaction ledger. Counting on the progressively
    scrubbed text would attribute each character to exactly one
    pattern at the cost of three extra full regex passes; flip to that
    if the counts feed billing/compliance rather than triage.
    """
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(_EMAIL_RE), F.lit(0)))
    n_urls = F.size(F.regexp_extract_all(c, F.lit(_URL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(c, F.lit(_IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(_PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(c, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
            ),
            _IPV4_RE,
            "<IP>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phones.cast("long").alias("n_phones"),
    )


def scrub_pii_sql(source: str = "documents", text_expr: str = "text") -> str:
    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         {text_expr}, '{_EMAIL_RE}', '<EMAIL>', 'g'),
         '{_URL_RE}', '<URL>', 'g'),
         '{_IPV4_RE}', '<IP>', 'g'),
         '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed_text,
       cast(len(regexp_extract_all({text_expr}, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       cast(len(regexp_extract_all({text_expr}, '{_URL_RE}')) AS BIGINT) AS n_urls,
       cast(len(regexp_extract_all({text_expr}, '{_IPV4_RE}')) AS BIGINT) AS n_ipv4,
       cast(len(regexp_extract_all({text_expr}, '{_PHONE_RE}')) AS BIGINT) AS n_phones
FROM {source}
"""


def doc_length_quantiles(docs: DataFrame) -> DataFrame:
    """Corpus length distribution: exact interpolated quantiles + mean.

    ``percentile()`` (exact, linear interpolation — bit-identical to
    DuckDB's quantile_cont) over doc char lengths; the corpus-triage
    numbers a data curator reads first. Exact percentile sorts per
    group — fine for a single global group; for per-group quantiles at
    scale switch to approx_percentile with a documented error bound.
    """
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("percentile(length(text), 0.25)").alias("p25"),
        F.expr("percentile(length(text), 0.5)").alias("p50"),
        F.expr("percentile(length(text), 0.75)").alias("p75"),
        F.expr("percentile(length(text), 0.95)").alias("p95"),
        F.avg(F.length("text")).alias("mean_len"),
    )


DOC_LENGTH_QUANTILES_SQL = """
SELECT count(1) AS n_docs,
       quantile_cont(length(text), 0.25) AS p25,
       quantile_cont(length(text), 0.5) AS p50,
       quantile_cont(length(text), 0.75) AS p75,
       quantile_cont(length(text), 0.95) AS p95,
       avg(length(text)) AS mean_len
FROM documents
"""


# ---------------------------------------------------------------------------
# ranked retrieval: TF-IDF + BM25 (beyond-reference)
# ---------------------------------------------------------------------------


def tfidf_terms(
    docs: DataFrame, min_df: int = 1, toks: DataFrame | None = None
) -> DataFrame:
    """Per-(doc, token) TF-IDF weights over the corpus.

    Scale shape: one explode → one (doc, token) aggregate (map-side
    combinable), CACHED (lazy ``persist`` — both the df derivation and
    the tf⋈df join consume it; left uncached, Spark would re-run the
    corpus tokenize+aggregate per consumer, the same multi-consumer
    trap scd2_apply documents; round 18 switched the eager
    ``localCheckpoint`` to a lazy persist so construction queues no
    jobs and the whole query pipelines in one action) → one token
    aggregate for document frequency — the df table is
    vocabulary-sized, so the tf⋈df join is a key equi-join on a
    bounded side; the corpus row count rides a one-row,
    one-column-pruned aggregate cross-joined in (no driver round trip,
    no window). Smoothed ``idf = ln((N+1)/(df+1)) + 1`` (sklearn's
    convention) keeps unseen/ubiquitous tokens finite.

    ``toks``: optionally a precomputed ``exploded_tokens(docs,
    drop_empty=False)`` frame (typically persisted) — the
    empty-token filter is applied here either way.

    Output: (doc_id, token, tf, df, tfidf).
    """
    from pyspark.storagelevel import StorageLevel

    toks = (
        exploded_tokens(docs)
        if toks is None
        else toks.where(F.length("token") > 0)
    )
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    if min_df > 1:
        df = df.where(F.col("df") >= min_df)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("__n") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )


def tfidf_terms_sql(min_df: int = 1, source: str = "documents") -> str:
    """DuckDB twin of :func:`tfidf_terms` (parity-tested with a float
    tolerance — ln() may differ in the last ulp across libm builds)."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text, ' '), ' +')) AS token
  FROM {source}
),
tf AS (
  SELECT doc_id, token, count(1) AS tf FROM toks
  WHERE token IS NOT NULL AND length(token) > 0
  GROUP BY doc_id, token
),
df AS (
  SELECT token, count(1) AS df FROM tf GROUP BY token HAVING count(1) >= {min_df}
),
n AS (SELECT count(1) AS n_docs FROM {source})
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
"""


def bm25_search(
    docs: DataFrame,
    query_tokens: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    toks: DataFrame | None = None,
) -> DataFrame:
    """BM25 ranked retrieval: top-k docs for a bag-of-tokens query.

    The classic Okapi scoring —
    ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with
    ``idf = ln(1 + (N−df+0.5)/(df+0.5))``.

    Scale shape: ONE corpus tokenize + ONE doc-keyed aggregate total —
    document length and each query token's term frequency come out of
    the same map-side-combined pass (the query list is bounded, so the
    per-query-token counts are a fixed handful of agg columns, unpivoted
    afterwards with ``stack`` over the already doc-sized frame). The
    doc-sized result is cached once (lazy ``persist`` — round 18: the
    former eager ``localCheckpoint`` queued jobs at construction; the
    cache still feeds stats/tf/df/score without re-scanning the
    corpus); df/N/avgdl ride broadcast one-row / query-bounded sides,
    and the final ranking is a TakeOrderedAndProject over matching
    docs only. No window over the corpus, no driver collect.

    ``toks``: optionally a precomputed ``exploded_tokens(docs,
    drop_empty=False)`` frame (typically persisted) — the empty-token
    filter is applied here either way.

    Output: (doc_id, score, n_matched_terms), score descending,
    doc_id ascending tiebreak.
    """
    from pyspark.storagelevel import StorageLevel

    if not query_tokens:
        raise ValueError("bm25_search needs at least one query token")
    qtokens = list(dict.fromkeys(query_tokens))  # dedupe, keep order
    toks = (
        exploded_tokens(docs)
        if toks is None
        else toks.where(F.length("token") > 0)
    )
    per_doc = (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__dl"),
            *[
                F.sum((F.col("token") == t).cast("long")).alias(f"__qtf_{i}")
                for i, t in enumerate(qtokens)
            ],
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = per_doc.agg(
        F.avg("__dl").alias("__avgdl"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    # unpivot via F.stack over F.lit COLUMNS, not a rendered expr
    # string: a query token containing a backslash (or any other SQL
    # escape) would be re-parsed by the expression parser ('\b' →
    # backspace), silently mis-matching the token and diverging from
    # the DuckDB twin which only doubles quotes
    stack_args: list = [F.lit(len(qtokens))]
    for i, t in enumerate(qtokens):
        stack_args.append(F.lit(t))
        stack_args.append(F.col(f"__qtf_{i}"))
    tf = per_doc.select(
        "doc_id", "__dl", F.stack(*stack_args).alias("token", "__tf")
    ).where(F.col("__tf") > 0)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            (
                F.log(
                    F.lit(1.0)
                    + (
                        (F.col("__n") - F.col("__df") + F.lit(0.5))
                        / (F.col("__df") + F.lit(0.5))
                    )
                )
                * (
                    F.col("__tf").cast("double")
                    * F.lit(k1 + 1.0)
                    / (
                        F.col("__tf").cast("double")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b)
                            * F.col("__dl").cast("double")
                            / F.col("__avgdl")
                        )
                    )
                )
            ).alias("__term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("__term_score").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_matched_terms"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def bm25_search_sql(
    query_tokens: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`bm25_search` (tolerance-compared)."""
    qlist = ", ".join("'" + t.replace("'", "''") + "'" for t in query_tokens)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text, ' '), ' +')) AS token
  FROM {source}
),
clean AS (
  SELECT doc_id, token FROM toks
  WHERE token IS NOT NULL AND length(token) > 0
),
doclen AS (SELECT doc_id, count(1) AS dl FROM clean GROUP BY doc_id),
stats AS (SELECT avg(dl) AS avgdl, count(1) AS n FROM doclen),
tf AS (
  SELECT doc_id, token, count(1) AS tf FROM clean
  WHERE token IN ({qlist}) GROUP BY doc_id, token
),
df AS (SELECT token, count(1) AS df FROM tf GROUP BY token)
SELECT tf.doc_id,
       sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * {k1 + 1.0}
              / (tf.tf + {k1} * (1.0 - {b} + {b} * doclen.dl / stats.avgdl))))
         AS score,
       count(1) AS n_matched_terms
FROM tf
JOIN df USING (token)
JOIN doclen USING (doc_id)
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id ASC
LIMIT {topk}
"""


# ---------------------------------------------------------------------------
# unigram-LM document scoring (beyond-reference, round 7)
# ---------------------------------------------------------------------------


def unigram_logprob(
    docs: DataFrame,
    lm: DataFrame | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Per-document average token log-likelihood under a unigram LM —
    the cheap end of perplexity filtering (Wenzek et al. 2020's
    CCNet ranks documents by LM perplexity; a unigram model catches
    the same gross outliers — boilerplate, key-mash, wrong-language —
    at one aggregate's cost, no model artifact needed).

    By default the LM is the corpus itself (``P(t) = count(t) /
    total_tokens``, no smoothing needed — every scored token is in the
    vocabulary by construction). Pass ``lm`` — a (token, count) frame,
    e.g. a stored :func:`vocab_topk`-style table from a REFERENCE
    corpus — to score against an external model; then unseen tokens
    get add-one smoothing (``ln((c+1)/(N+V))``), the standard
    held-out correction.

    Scale shape: ONE tokenize-and-explode, one (token) aggregate for
    the model (vocabulary-sized), one key equi-join token→model, one
    (doc) aggregate — all map-side combinable; N and V ride a
    broadcast one-row aggregate. No window, no driver collect.

    ``toks``: optionally a precomputed ``exploded_tokens(docs,
    drop_empty=False)`` frame (typically persisted) — the empty-token
    filter is applied here either way.

    Output: (doc_id, n_tokens, avg_logprob), ``avg_logprob`` NULL for
    token-less docs. More-negative = more surprising under the LM.
    """
    toks = (
        exploded_tokens(docs)
        if toks is None
        else toks.where(F.length("token") > 0)
    )
    if lm is None:
        model = toks.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        smooth = False
    else:
        model = lm.select("token", F.col("count").cast("long").alias("__c"))
        smooth = True
    totals = model.agg(
        F.sum("__c").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )
    joined = toks.join(model, "token", "left" if smooth else "inner").crossJoin(
        F.broadcast(totals)
    )
    if smooth:
        lp = F.log(
            (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("__n") + F.col("__v")).cast("double")
        )
    else:
        lp = F.log(F.col("__c").cast("double") / F.col("__n").cast("double"))
    scored = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (F.sum(lp) / F.count(F.lit(1))).alias("avg_logprob"),
    )
    # token-less docs (empty/whitespace text) surface with NULL score
    # rather than dropping out of the frame
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            "avg_logprob",
        )
    )


def unigram_logprob_sql(source: str = "documents") -> str:
    """DuckDB twin of :func:`unigram_logprob` (self-corpus LM;
    tolerance- or quantum-compared — ln may differ in the last ulp)."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text, ' '), ' +')) AS token
  FROM {source}
),
clean AS (
  SELECT doc_id, token FROM toks
  WHERE token IS NOT NULL AND length(token) > 0
),
model AS (SELECT token, count(1) AS c FROM clean GROUP BY token),
totals AS (SELECT sum(c) AS n FROM model),
scored AS (
  SELECT doc_id, count(1) AS n_tokens,
         sum(ln(cast(model.c AS DOUBLE) / cast(totals.n AS DOUBLE)))
           / count(1) AS avg_logprob
  FROM clean JOIN model USING (token) CROSS JOIN totals
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       s.avg_logprob
FROM {source} d LEFT JOIN scored s USING (doc_id)
"""
