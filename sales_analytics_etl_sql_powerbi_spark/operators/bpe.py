"""Byte-pair-encoding tokenizer TRAINING and encoding (round 7,
beyond-reference).

The canonical tokenizer-building workload of an LLM data pipeline
(Sennrich et al. 2016): learn an ordered list of symbol merges from
corpus statistics, then encode text with them. The scalable shape is
the classic one — train on the WORD-FREQUENCY TABLE, never the raw
corpus:

- one corpus pass builds (word, count) — vocabulary-sized from then
  on (the synthetic corpus has ~31 types; a web corpus has ~10⁷ —
  either way orders of magnitude under the token count);
- each merge iteration is an adjacent-pair count over the vocab table
  (weighted by word count, map-side combinable), ONE single-row
  argmax collect (count desc, pair asc — fully deterministic
  tie-break), and a vocab-sized symbol-array rewrite;
- lineage is truncated every ``checkpoint_every`` merges
  (``localCheckpoint``) — same iterative-DataFrame rule as
  :mod:`.graph`; without it the plan doubles per merge.

Encoding re-uses the same trick: apply the merges to the DISTINCT
token table (vocab-sized, in Python-loop order with the same
checkpoint cadence); a caller joins per-token corpus counts to it, so
the corpus is never touched by the merge chain.

The merge-application fold is greedy left-to-right over the symbol
array, which equals standard non-overlapping BPE application: after a
merge fires, the accumulated last element becomes ``a+b`` (≠ ``a``
since ``b`` is non-empty), so an overlapping re-fire is structurally
impossible. Parity with a pure-Python reference implementation is
pinned in tests (the scd2-style cross-implementation witness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import exploded_tokens

__all__ = [
    "bpe_train",
    "bpe_encode_vocab",
    "bpe_train_py",
    "bpe_vocab_ids",
    "subword_ids_expr",
]

#: end-of-word marker (Sennrich's </w>) — lets merges distinguish
#: word-final symbols; single unicode char so char-split stays trivial
_EOW = "▁"


def _chars_with_eow(col: F.Column) -> F.Column:
    # split into single chars, then append the end-of-word marker
    return F.concat(
        F.filter(F.split(col, ""), lambda c: F.length(c) > 0),
        F.array(F.lit(_EOW)),
    )


def _apply_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right non-overlapping replacement of the
    adjacent pair (a, b) with a+b inside a symbol array."""
    merged = F.lit(a + b)
    return F.when(F.size(syms) < 2, syms).otherwise(
        F.aggregate(
            F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
            F.slice(syms, 1, 1),
            lambda acc, s: F.when(
                (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    ordered merge list (the tokenizer model — driver-sized, like the
    IVF codebook). Stops early when no adjacent pair reaches
    ``min_pair_count`` weighted occurrences. Deterministic: argmax
    ties break lexicographically on the pair.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    words = (
        exploded_tokens(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("__wc"))
        .select("token", "__wc", _chars_with_eow(F.col("token")).alias("__syms"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    for it in range(n_merges):
        pairs = words.select(
            "__wc",
            F.explode(
                F.when(F.size("__syms") < 2, F.array().cast("array<struct<a:string,b:string>>")).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__syms") - 1),
                        lambda i: F.struct(
                            F.element_at("__syms", i).alias("a"),
                            F.element_at("__syms", i + 1).alias("b"),
                        ),
                    )
                )
            ).alias("__p"),
        )
        top = (
            pairs.groupBy("__p")
            .agg(F.sum("__wc").alias("__n"))
            .orderBy(F.desc("__n"), F.asc("__p"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["__n"] < min_pair_count:
            break
        a, b = top[0]["__p"]["a"], top[0]["__p"]["b"]
        merges.append((a, b))
        words = words.withColumn("__syms", _apply_merge(F.col("__syms"), a, b))
        # truncate lineage: each merge nests an aggregate inside the
        # previous plan — unchecked, analysis time grows superlinearly
        if (it + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def _validate_merges(merges: list[tuple[str, str]]) -> None:
    """Reject ill-formed merge lists up front: every pair's operands
    must be DERIVABLE — a single character (incl. the end-of-word
    marker) or the product of an EARLIER merge, which every trained
    list satisfies by construction. A pair with an underivable operand
    can never fire, so the fold would drop it without a diagnostic.
    Driver-side, O(total merge chars)."""
    derived: set[str] = set()
    for i, (a, b) in enumerate(merges):
        for op in (a, b):
            if len(op) > 1 and op not in derived:
                raise ValueError(
                    f"ill-formed merge list: pair {i} operand {op!r} is "
                    "neither a single character nor the product of an "
                    "earlier merge — trained merge lists (bpe_train / "
                    "bpe_train_py) satisfy this by construction; "
                    "reorder or retrain a hand-built list"
                )
        derived.add(a + b)


def bpe_encode_vocab(
    tokens: DataFrame,
    merges: list[tuple[str, str]],
    checkpoint_every: int = 8,
) -> DataFrame:
    """(token, subwords) over the DISTINCT tokens of ``tokens``: the
    merge chain runs on the vocab-sized table only, one greedy-fold
    expression per merge, all-JVM, with lineage truncated every
    ``checkpoint_every`` merges. Subwords are a pure function of the
    token, so a composition joins per-token corpus counts to this
    instead of dragging the corpus through the chain.

    ``tokens`` is any frame with a ``token`` column.
    """
    _validate_merges(merges)
    vocab = tokens.select("token").distinct()
    vocab = vocab.withColumn("subwords", _chars_with_eow(F.col("token")))
    for i, (a, b) in enumerate(merges):
        vocab = vocab.withColumn("subwords", _apply_merge(F.col("subwords"), a, b))
        if (i + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return vocab


def bpe_train_py(
    word_counts: dict[str, int], n_merges: int = 50, min_pair_count: int = 2
) -> list[tuple[str, str]]:
    """Pure-Python reference implementation (the parity witness for
    :func:`bpe_train` — same argmax, same tie-break, same greedy
    left-to-right application)."""
    vocab = {w: list(w) + [_EOW] for w in word_counts}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            wc = word_counts[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + wc
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _n = best
        merges.append((a, b))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def bpe_vocab_ids(
    merges: list[tuple[str, str]], alphabet: list[str] | None = None
) -> dict[str, int]:
    """Deterministic subword-id table for a trained model — what a
    training pipeline feeds the embedding layer. Ids are assigned in
    model order (the GPT-2/SentencePiece convention): base symbols
    first (sorted), then one id per merge in learned order.

    ID STABILITY: with an explicit ``alphabet`` (the fixed base
    symbol set — e.g. the 256 byte values of a byte-level model, or
    the corpus character set frozen at first training), extending the
    model with more merges APPENDS ids without renumbering — the
    property checkpoint-compatible vocabularies need. Without it the
    base set is derived from the merges themselves (every operand
    that is not a merge product), which needs no corpus pass but can
    RENUMBER when a later merge first touches a new character — fine
    for a one-shot model, wrong for incremental growth (unit-pinned
    both ways).

    Tokens containing symbols outside the table are the caller's OOV
    policy; :func:`subword_ids_expr` maps them to id −1.
    """
    products = {a + b for a, b in merges}
    if alphabet is not None:
        base = set(alphabet)
    else:
        # chars inside multi-char base operands are reachable only via
        # the operand itself — the operand IS the base symbol
        base = {s for pair in merges for s in pair if s not in products}
    base.add(_EOW)
    table: dict[str, int] = {}
    for s in sorted(base):
        table[s] = len(table)
    for a, b in merges:
        m = a + b
        if m not in table:
            table[m] = len(table)
    return table


def subword_ids_expr(vocab_ids: dict[str, int]) -> F.Column:
    """Subword-id lookup as an expression over a ``subwords`` column:
    every symbol maps through a ``create_map`` literal of
    ``vocab_ids`` (from :func:`bpe_vocab_ids`), unknowns to −1."""
    mapping = F.create_map(
        *[F.lit(x) for kv in vocab_ids.items() for x in kv]
    )
    return F.transform(
        "subwords",
        lambda s: F.coalesce(mapping[s], F.lit(-1)).cast("int"),
    )
