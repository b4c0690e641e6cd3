"""Deduplication operators for training-data pipelines (beyond-reference).

Exact (content-hash groupBy), MinHash+LSH near-dup (shingle → minhash
signature → banded bucket join — never all-pairs), SimHash
fingerprints, and n-gram Jaccard. Everything is native Column
expressions + relational ops: no UDFs, no driver-side loops, no
cartesian products — the LSH candidate join is an equi-join on
(band, band_hash), which shuffles O(docs·bands) rows however large the
corpus is.

Hash base: the same md5→63-bit integer used for surrogate keys
(functions/keys.py), reduced mod 2^31-1; permutations are
``(a_i·h + b_i) mod p`` with fixed odd multipliers — deterministic
across engines, so every step has an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "exact_dedup",
    "shingle_sets",
    "shingle_docs",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "lsh_cap_audit",
    "neardup_pairs",
    "neardup_clusters",
    "keep_canonical",
    "simhash",
    "ngram_jaccard_topk",
    "EXACT_DEDUP_SQL",
    "duplicated_spans",
    "duplicated_spans_sql",
    "cut_duplicated_spans",
    "cut_duplicated_spans_sql",
    "minhash_signatures_sql",
    "neardup_pairs_sql",
    "neardup_clusters_sql",
    "simhash_sql",
    "ngram_jaccard_topk_sql",
]

_P31 = 2_147_483_647  # 2^31 - 1 (prime)
_N_PERM = 16
_BANDS = 8  # 8 bands x 2 rows
_ROWS_PER_BAND = _N_PERM // _BANDS
# fixed permutation constants (odd multipliers, arbitrary-but-fixed offsets)
_A = [1 + 2 * i * 1_000_003 for i in range(_N_PERM)]
_B = [7 + i * 998_244_353 for i in range(_N_PERM)]
_A = [a % _P31 for a in _A]
_B = [b % _P31 for b in _B]

#: 63-bit md5 hash of a string expression — DuckDB oracle side.
#: (hi & 0x7FFFFFFF)*2^32 + lo == int(hex16,16) & (2^63-1) exactly.
_H63_DUCK = (
    "cast(('0x' || substring(md5({s}), 1, 16))::UBIGINT"
    " % 9223372036854775808::UBIGINT as BIGINT)"
)
#: 63-bit reduction of an ALREADY-COMPUTED md5 hex column. Hoisting the
#: md5 into its own named column (separate select) pins single
#: evaluation structurally: CollapseProject only inlines a non-cheap
#: expression referenced once, and {m} is referenced twice here, so the
#: optimizer keeps the two-project shape (asserted in
#: tests/test_dedup.py::test_md5_single_evaluation_in_plan).
_H63_FROM_MD5 = (
    "((cast(conv(substring({m}, 1, 8), 16, 10) as bigint) & 2147483647)"
    " * 4294967296 + cast(conv(substring({m}, 9, 8), 16, 10) as bigint))"
)


def h63_from_md5(md5_hex):
    """63-bit bigint from an md5 hex Column: ``(hi & 0x7FFFFFFF)·2³² + lo``.

    Column-expression twin of :data:`_H63_FROM_MD5` — the ONE shared
    builder for every Spark-side 63-bit hash derivation (minhash,
    simhash, and the fused per-row fold in ``text.doc_profile``), so
    the hash arithmetic cannot drift between the explode/groupBy and
    in-row-fold implementations. Callers that evaluate the md5 more
    than once should hoist it into its own column first (see the
    single-evaluation note above).
    """
    hi = F.conv(F.substring(md5_hex, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5_hex, 9, 8), 16, 10).cast("long")
    return hi.bitwiseAND(F.lit(0x7FFFFFFF)) * F.lit(4294967296) + lo


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: canonical row = min(doc_id).

    At 100 TB this is one hash-aggregate shuffle on a 32-char key —
    map-side partial aggregation shrinks it to ~unique-count rows.
    """
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .select("canonical_doc_id", "content_hash", "dup_count")
    )


EXACT_DEDUP_SQL = """
SELECT min(doc_id) AS canonical_doc_id, md5(text) AS content_hash,
       count(1) AS dup_count
FROM documents GROUP BY md5(text)
"""


def shingle_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh_set) — the distinct lowercased word k-grams of each
    doc as ONE array row (set semantics, sorted for determinism).

    Docs shorter than k words contribute their whole text as one
    shingle so they still participate. Keeping the set as an array lets
    the exact-Jaccard verifier compute ``array_intersect`` sizes with
    doc-count-sized joins instead of shuffling exploded shingle rows.

    NULL-text docs are dropped HERE (round 15, found by the neardup
    fuzz): they used to carry ``sh_set = [NULL]``, whose all-NULL
    minhash signature banded to ``md5('')`` on :func:`neardup_pairs`'s
    inline explode path (``concat_ws`` skips NULLs) — so any two
    NULL-text docs collided in EVERY band and surfaced as a bogus
    near-dup pair, while the DuckDB twin (whose ``unnest`` emits no
    NULL shingle) reported none. Filtering at the single shared source
    keeps every consumer — pair generator, cluster collapse, the
    Jaccard verifier — and both engines on one
    convention: a NULL document has no shingles and never matches
    (clusters still label it a singleton from the docs side).
    """
    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " +").alias("__tok")
    )
    grams = F.when(
        F.size("__tok") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("__tok") - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("__tok"), i + j + 1) for j in range(k)]
            ),
        ),
    ).otherwise(F.array(F.array_join("__tok", " ")))
    return d.select("doc_id", F.array_sort(F.array_distinct(grams)).alias("sh_set"))


def shingle_docs(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded rows — the minhash input.

    ``explode_outer``, deliberately: ``sh_set`` is never empty (a short
    doc contributes its whole text), so outer ≡ inner here — but inner
    explode triggers Catalyst's InferFiltersFromGenerate, which inlines
    the entire shingle-construction expression into a pre-scan filter
    and recomputes it ~3× per row (measured 13× slower at sf0.1).
    The NULL filter restores exact inner-explode semantics for
    NULL-text docs (outer would emit a NULL shingle row that DuckDB's
    ``unnest`` does not); it sits ABOVE the Generate on the generated
    column, so no expression duplication is re-inferred.
    """
    return (
        shingle_sets(docs, k)
        .select("doc_id", F.explode_outer("sh_set").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def _shingle_sets_duck(k: int = 3, source: str = "documents") -> str:
    """DuckDB twin of the shingle builder.

    KNOWN CROSS-ENGINE CAVEAT (round 14, found probing lower()):
    Spark/Python apply Unicode FULL case mapping (İ U+0130 →
    i+COMBINING DOT ABOVE; word-final Σ → ς), DuckDB's lower() the
    simple mapping (İ → i; Σ → σ everywhere) — so a corpus containing
    those code points would shingle differently across engines and
    hash-mismatch the gate even though BOTH engines are internally
    consistent. The driver corpus carries neither; the divergence is
    pinned by ``test_lower_unicode_case_mapping_divergence`` so a
    DuckDB behavior change surfaces as a red test, and the PRODUCT
    behavior (Spark, which matches Python's str.lower) is the
    contract."""
    parts = " || ' ' || ".join(f"__tok[i + {j}]" for j in range(k))
    return f"""
SELECT doc_id, list_sort(list_distinct(
  CASE WHEN len(__tok) >= {k}
       THEN list_transform(range(1, len(__tok) - {k} + 2), i -> {parts})
       ELSE [array_to_string(__tok, ' ')] END)) AS sh_set
FROM (SELECT doc_id, string_split_regex(lower(trim(text, ' ')), ' +') AS __tok
      FROM {source} WHERE text IS NOT NULL) d
"""


def _shingles_duck(k: int = 3, source: str = "documents") -> str:
    return f"""
SELECT doc_id, unnest(sh_set) AS shingle FROM ({_shingle_sets_duck(k, source)}) s
"""


def minhash_signatures(docs: DataFrame, k: int = 3) -> DataFrame:
    """MinHash signature: one row per doc, columns m0..m15.

    shingle rows → 63-bit md5 hash → mod 2^31-1 → per-permutation min.
    One groupBy(doc_id) computes all 16 minima map-side-combined — a
    single shuffle of doc_id-keyed partial minima.
    """
    return _minhash_from_shingles(shingle_docs(docs, k))


def _minhash_from_shingles(sh: DataFrame) -> DataFrame:
    pre = sh.select("doc_id", F.md5("shingle").alias("__md5"))
    h = h63_from_md5(F.col("__md5")) % F.lit(_P31)
    hashed = pre.select("doc_id", h.alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(_A[i]) + F.lit(_B[i])) % F.lit(_P31)).alias(f"m{i}")
        for i in range(_N_PERM)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures_sql(k: int = 3) -> str:
    h63 = _H63_DUCK.format(s="shingle")
    aggs = ",\n  ".join(
        f"min((({h63} % {_P31}) * {_A[i]} + {_B[i]}) % {_P31}) AS m{i}"
        for i in range(_N_PERM)
    )
    return f"""
SELECT doc_id,
  {aggs}
FROM ({_shingles_duck(k)}) sh
GROUP BY doc_id
"""


def _band_structs(
    bands: int = _BANDS, rows_per_band: int = _ROWS_PER_BAND
) -> F.Column:
    """array<struct<band_id, band_hash>> over a signature row (m0..m15).

    The band-hash expression of :func:`lsh_candidate_pairs`.

    ``bands``/``rows_per_band`` default to the module constants (the
    production setting, carried with a MEASURED recall table — see
    ``scripts/recall.py --minhash`` and PLAN_AUDIT round 6, where the
    defaults sit on the knee of the curve); other values (bands ×
    rows ≤ 16 permutations) exist for the recall harness and for
    callers that need a different precision/recall trade (collision
    probability is 1 − (1 − J^rows)^bands: fewer rows per band →
    higher recall, lower precision — monotone, unit-pinned).
    """
    if bands * rows_per_band > _N_PERM:
        raise ValueError(
            f"bands×rows_per_band ({bands}×{rows_per_band}) exceeds the "
            f"{_N_PERM} available permutations"
        )
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    _handles: list | None = None,
    bands: int = _BANDS,
    rows_per_band: int = _ROWS_PER_BAND,
    max_bucket_size: int | None = None,
    audit: dict | None = None,
) -> DataFrame:
    """Banded LSH: equi-join docs whose signature agrees on any band.

    Bands of _ROWS_PER_BAND rows hashed to one value; candidates =
    pairs sharing (band_id, band_hash). The join key is the band hash —
    NO all-pairs comparison; skew-safe under AQE. The signature table
    is persisted (one row per doc) so the self-join's two sides share
    one computation instead of re-deriving the minhash pipeline twice.
    Cache ownership: when ``_handles`` is passed, the persisted frame is
    appended there and the caller unpersists after materializing (the
    :func:`neardup_pairs` path); a direct caller owns the unpersist.

    ``max_bucket_size`` (round 13 — VERDICT r12 item 4): candidate
    count is a DATA property — a degenerate corpus (boilerplate, empty
    docs, template spam) can put millions of docs in one bucket and
    the pair join goes quadratic in that bucket (the corpus-e2e first
    draft demonstrated it — PLAN_AUDIT r12). With a cap, each
    oversized (band_id, band_hash) bucket keeps only its
    ``max_bucket_size`` SMALLEST doc_ids (deterministic, rank via one
    window on the join key — the same shuffle the self-join needs, so
    the exchange is reused) and the rest are dropped FOR THAT BAND
    only. Recall consequence: a true near-dup pair is lost only if
    EVERY band that collides it is oversized and at least one member
    ranks past the cap — boilerplate-cluster pairs, exactly the ones a
    curation run wants collapsed by exact/substring dedup instead.
    No-silent-caps rule: pass ``audit={}`` and the function attaches a
    riding ``Observation`` (key ``"observation"``; read after an
    action with ``lsh_cap_audit``) reporting ``dropped_entries`` (doc
    ×band rows cut) and ``oversized_buckets`` — zero extra passes.
    Default ``None`` = exact banded behavior, plan unchanged.
    """
    from pyspark.storagelevel import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    if _handles is not None:
        _handles.append(sig)
    # ONE pass over the signatures: explode the per-band structs (a
    # union of 8 per-band selects would duplicate the whole minhash
    # subplan 8×; outer explode also dodges InferFiltersFromGenerate's
    # expression duplication — see shingle_docs)
    bands_df = sig.select(
        "doc_id", F.explode_outer(_band_structs(bands, rows_per_band)).alias("b")
    ).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_hash").alias("band_hash"),
    )
    if max_bucket_size is not None:
        if max_bucket_size < 1:
            raise ValueError("max_bucket_size must be >= 1")
        from pyspark.sql import Observation, Window

        rank = F.row_number().over(
            Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
        )
        ranked = bands_df.withColumn("__rk", rank)
        if audit is not None:
            obs = Observation()
            # AQE gotcha (found by the r13 corpus-pipeline test): when
            # the downstream candidate JOIN turns out empty at runtime,
            # empty-relation propagation replaces the subtree — the
            # CollectMetrics node included — and the Observation
            # completes with an EMPTY row, silently losing the drop
            # counters (with cap=1 drops can be real while the join is
            # empty). The audit therefore also carries a LAZY fallback
            # aggregate over the pre-observe ranked frame;
            # lsh_cap_audit runs it (one small job, re-deriving the
            # bands) only in that empty-metrics corner.
            audit["fallback"] = ranked.agg(
                F.sum(
                    (F.col("__rk") > max_bucket_size).cast("long")
                ).alias("dropped_entries"),
                F.sum(
                    (F.col("__rk") == max_bucket_size + 1).cast("long")
                ).alias("oversized_buckets"),
            )
            ranked = ranked.observe(
                obs,
                F.sum(
                    (F.col("__rk") > max_bucket_size).cast("long")
                ).alias("dropped_entries"),
                F.sum(
                    (F.col("__rk") == max_bucket_size + 1).cast("long")
                ).alias("oversized_buckets"),
            )
            audit["observation"] = obs
        bands_df = ranked.where(F.col("__rk") <= max_bucket_size).drop("__rk")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(b, on=["band_id", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_cap_audit(audit: dict) -> dict[str, int]:
    """The cap counters recorded by :func:`lsh_candidate_pairs`'s
    riding observation (``audit={}`` + ``max_bucket_size``) — call
    AFTER an action on the pairs frame (or anything downstream).
    Returns ``{"dropped_entries": …, "oversized_buckets": …}``; zero
    for a corpus whose buckets all fit the cap.

    Robust to the AQE empty-relation corner (see the comment at the
    observe site): an empty metrics row falls back to the lazy audit
    aggregate — one small job, only in that corner. The emptiness
    probe is the version-layered :func:`quality.observation_metrics`
    (round 14): if the private fast path disappears in a pyspark
    upgrade, the portable path still routes the pruned corner here
    instead of silently reverting to the pre-fix failure mode."""
    from .quality import observation_metrics

    vals = observation_metrics(audit["observation"])
    if vals is None:
        row = audit["fallback"].first()
        return {
            "dropped_entries": int(row[0] or 0),
            "oversized_buckets": int(row[1] or 0),
        }
    return {k: int(v or 0) for k, v in vals.items()}


def neardup_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.0,
    lazy: bool = False,
    max_bucket_size: int | None = None,
    audit: dict | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification.

    Candidates from the banded join only; the exact Jaccard is
    ``size(array_intersect(sets))`` after joining the candidate pairs
    back to the doc-count-sized shingle-set table — two equi-joins on
    doc ids (AQE broadcasts when small), never a shuffle of exploded
    shingle rows.

    The shingle-set table is persisted: it is one row per doc (bounded
    by corpus size, not shingle count) and four plan branches read it
    (minhash input + both Jaccard sides) — the standard
    materialize-the-signatures LSH shape.

    Cache lifecycle: by default the pair output is materialized eagerly
    (one job, lineage-truncating localCheckpoint) and BOTH intermediate
    caches are unpersisted before returning — repeated calls over
    distinct corpora leak nothing; the only storage entry left is the
    materialized result the caller holds, reclaimed when they drop it.
    ``lazy=True`` returns the unexecuted plan instead (intermediates
    stay cached until session end — the caller owns them).
    """
    from pyspark.storagelevel import StorageLevel

    handles: list[DataFrame] = []
    sets = shingle_sets(docs, k).persist(StorageLevel.MEMORY_AND_DISK)
    handles.append(sets)
    cand = lsh_candidate_pairs(
        _minhash_from_shingles(
            sets.select("doc_id", F.explode_outer("sh_set").alias("shingle"))
        ),
        _handles=handles,
        max_bucket_size=max_bucket_size,
        audit=audit,
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("__sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("__sh_b"))
    n_inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    n_union = F.size("__sh_a") + F.size("__sh_b") - n_inter
    out = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_inter.cast("double") / n_union.cast("double")).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.where(F.col("jaccard") >= threshold)
    if not lazy:
        out = out.localCheckpoint(eager=True)
        for h in handles:
            h.unpersist()
    return out.orderBy("doc_a", "doc_b")


def neardup_pairs_sql(k: int = 3, threshold: float = 0.0) -> str:
    rows = _ROWS_PER_BAND
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({cc}) AS band_hash FROM sig".format(
            b=b,
            cc=" || ',' || ".join(
                f"cast(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(_BANDS)
    )
    thr = f"WHERE jaccard >= {threshold}" if threshold > 0 else ""
    return f"""
WITH sets AS ({_shingle_sets_duck(k)}),
sig AS ({minhash_signatures_sql(k)}),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         cast(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
           / cast(len(sa.sh_set) + len(sb.sh_set)
                  - len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
) t {thr}
ORDER BY doc_a, doc_b
"""


_SIM_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash fingerprint per document.

    Token occurrences vote ±1 per bit of their 63-bit md5 hash; the
    sign vector packs into one integer. One explode + one groupBy —
    both map-side combinable.
    """
    # explode_outer: split() never yields an empty array here, and inner
    # explode would add an inferred filter recomputing the split (see
    # shingle_docs). The NULL filter keeps NULL-text docs OUT of the
    # output (inner-explode / DuckDB-unnest semantics) without
    # re-triggering the inferred-filter duplication.
    toks = docs.select(
        "doc_id",
        F.explode_outer(F.split(F.lower(F.trim(F.col("text"))), " +")).alias("tok"),
    ).where(F.col("tok").isNotNull())
    pre = toks.select("doc_id", F.md5("tok").alias("__md5"))
    h = h63_from_md5(F.col("__md5"))
    hashed = pre.select("doc_id", h.alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(_SIM_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(*bit_aggs)
    packed = None
    for j in range(_SIM_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.alias("simhash"))


def simhash_sql() -> str:
    h63 = _H63_DUCK.format(s="tok")
    bit_aggs = ",\n  ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIM_BITS)
    )
    packed = " + ".join(
        f"CASE WHEN s{j} >= 0 THEN cast({2**j} AS BIGINT) ELSE 0 END"
        for j in range(_SIM_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text, ' ')), ' +')) AS tok
  FROM documents
),
hashed AS (SELECT doc_id, {h63} AS h FROM toks),
agg AS (SELECT doc_id, {bit_aggs} FROM hashed GROUP BY doc_id)
SELECT doc_id, {packed} AS simhash FROM agg
"""


def ngram_jaccard_topk(
    docs: DataFrame, n_queries: int = 5, k: int = 3, topk: int = 5
) -> DataFrame:
    """Exact n-gram Jaccard top-k for a small query set (baseline oracle
    for the LSH path). The query side is tiny and broadcast; never used
    all-pairs at scale — that's what `neardup_pairs` is for."""
    from pyspark.sql import Window

    sh = shingle_docs(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    q_sh = sh.where(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    inter = (
        F.broadcast(q_sh)
        .join(sh, "shingle")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("query_id"), F.col("n_sh").alias("n_q")),
            "query_id",
        )
        .join(sizes, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_q") + F.col("n_sh") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("jaccard"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= topk)
        .orderBy("query_id", "rn")
    )


def ngram_jaccard_topk_sql(n_queries: int = 5, k: int = 3, topk: int = 5) -> str:
    return f"""
WITH sh AS ({_shingles_duck(k)}),
sizes AS (SELECT doc_id, count(1) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT q.doc_id AS query_id, d.doc_id, count(1) AS n_inter
  FROM sh q JOIN sh d ON q.shingle = d.shingle
  WHERE q.doc_id < {n_queries} AND d.doc_id <> q.doc_id
  GROUP BY q.doc_id, d.doc_id
),
scored AS (
  SELECT i.query_id, i.doc_id,
         cast(i.n_inter AS DOUBLE)
           / cast(nq.n_sh + nd.n_sh - i.n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes nq ON nq.doc_id = i.query_id
  JOIN sizes nd ON nd.doc_id = i.doc_id
)
SELECT query_id, doc_id, jaccard, rn FROM (
  SELECT *, cast(row_number() OVER (
    PARTITION BY query_id ORDER BY jaccard DESC, doc_id ASC) AS INT) AS rn
  FROM scored
) r WHERE rn <= {topk}
ORDER BY query_id, rn
"""


def neardup_clusters(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_iters: int = 20,
    round_stats: list | None = None,
    pairs: DataFrame | None = None,
    max_bucket_size: int | None = None,
    audit: dict | None = None,
) -> DataFrame:
    """Collapse near-duplicate docs into clusters: (doc_id, cluster_id).

    Connected components over the LSH-verified near-dup pair graph —
    the step a training-data pipeline runs after pair generation (keep
    one doc per cluster). cluster_id = min doc_id reachable through
    pairs with Jaccard ≥ threshold; unpaired docs are their own
    cluster.

    Iterative min-label propagation, Spark-style: each round is ONE job
    — join + aggregate over (edges ∪ self-loops) — with the
    convergence signal (changed-row count) riding that same job as an
    ``observe`` metric, so the driver never runs a second pass or
    collects data to decide termination. Rounds needed = graph
    diameter — near-dup clusters are shallow (dup sets, not long
    chains), so convergence is fast; ``max_iters`` bounds the
    pathological chain. DuckDB twin: recursive-CTE transitive closure +
    min per node (exact same fixpoint).

    The loop runs over the PAIR-GRAPH nodes only (round 18): documents
    that appear in no pair can never change label, so each round costs
    duplicate-set size, not corpus size — at 100 TB the label joins
    touch only the (typically small) duplicated fraction; singletons
    rejoin as their own clusters in one final corpus-id left join.

    Observability: each round's (round, changed, seconds) is logged at
    INFO and appended to ``round_stats`` when a list is passed — an
    iterative algorithm's wall time is round_count × per-round cost,
    and a perf regression must be attributable to one factor or the
    other (VERDICT r4 item 1), never re-guessed from the total.
    Measured decomposition (round-5 idle-box probes, PLAN_AUDIT.md):
    the label loop converges in 3 rounds at every probed scale and
    costs ~12–16s at 50k docs/336k pairs; edge GENERATION dominates
    and carries all the host variance.

    ``pairs`` lets a pipeline that already materialized
    :func:`neardup_pairs` output (the normal corpus-clean flow) hand
    it in and skip the rebuild — edge generation is the dominant cost,
    so reuse roughly halves-or-better the collapse wall time. The
    frame must carry ``doc_a``/``doc_b`` (+ ``jaccard`` if thresholding
    still applies); when given, ``k``/``threshold`` only govern the
    fallback rebuild and are otherwise unused. CONTRACT (ADVICE r18):
    every id in ``pairs`` must come from THIS ``docs`` frame — the
    round-0 fold seeds labels from the pair endpoints, so an
    out-of-corpus id in ``pairs`` would surface as a cluster_id in the
    output instead of being ignored (the pre-r18 docs-seeded loop
    silently dropped such ids). Callers composing both sides from the
    same frame (every in-repo caller) satisfy this by construction.
    """
    import logging
    import time as _time

    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    log = logging.getLogger(__name__)

    # Edge generation is the dominant cost of this function, not the
    # label loop: neardup_pairs materializes eagerly here (full
    # MinHash → LSH → exact-Jaccard verify), so "cluster collapse"
    # wall time = edge build + rounds. Timed separately (round -1 in
    # round_stats) so a total-time regression is attributable.
    _te = _time.perf_counter()
    if pairs is None:
        pairs = neardup_pairs(
            docs,
            k,
            threshold,
            max_bucket_size=max_bucket_size,
            audit=audit,
        )
    edges = pairs.select("doc_a", "doc_b")
    _edge_secs = _time.perf_counter() - _te
    log.info("neardup_clusters edge build secs=%.2f", _edge_secs)
    if round_stats is not None:
        round_stats.append((-1, -1, _edge_secs))
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Round 18: propagate labels over the PAIR-GRAPH nodes only, never
    # the whole corpus — docs outside every pair can never change
    # label, so each round's join + aggregate runs at duplicate-set
    # size (a tiny fraction of a 100-TB corpus); the untouched docs
    # rejoin as their own singleton clusters once, at the end. Same
    # fixpoint by construction: min-label propagation never reaches a
    # node with no edges.
    #
    # ROUND 0 IS FOLDED into one aggregate: with identity starting
    # labels, the first round's update for node n is exactly
    # least(n, min{m : m—n}) — sym is symmetric, so every pair node
    # appears as dst and one groupBy(dst) yields both the node set
    # and the round-0 labels, replacing a distinct + join + left-join
    # pass. 'changed' rides the same Observation shape as loop rounds.
    _t0 = _time.perf_counter()
    obs0 = Observation()
    labels = (
        sym.groupBy("dst")
        .agg(F.min("src").alias("__nbr"))
        .select(
            F.col("dst").alias("doc_id"),
            F.least(F.col("dst"), F.col("__nbr")).alias("cluster_id"),
        )
        .observe(
            obs0,
            F.coalesce(
                F.sum((F.col("cluster_id") != F.col("doc_id")).cast("long")),
                F.lit(0),
            ).alias("changed"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels.count()  # materializes round 0 AND fills the metric
    changed = obs0.get["changed"]
    _secs = _time.perf_counter() - _t0
    log.info("neardup_clusters round=0 changed=%d secs=%.2f", changed, _secs)
    if round_stats is not None:
        round_stats.append((0, changed, _secs))

    converged = changed == 0  # round 0 found no edges at all
    for _round in range(1, max_iters):
        if converged:
            break
        _t0 = _time.perf_counter()
        neighbor_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
            .withColumnRenamed("dst", "doc_id")
        )
        relabeled = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("__old"),
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        obs = Observation()
        new_labels = (
            relabeled.observe(
                obs,
                F.coalesce(
                    F.sum((F.col("cluster_id") != F.col("__old")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
            )
            .select("doc_id", "cluster_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        new_labels.count()  # materializes the round AND fills the metric
        changed = obs.get["changed"]
        _secs = _time.perf_counter() - _t0
        log.info(
            "neardup_clusters round=%d changed=%d secs=%.2f", _round, changed, _secs
        )
        if round_stats is not None:
            round_stats.append((_round, changed, _secs))
        labels.unpersist()
        labels = new_labels
        converged = changed == 0
    if not converged:
        # silent non-convergence would return WRONG clusters (and
        # diverge from the recursive-CTE oracle) — fail loudly instead
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iters} rounds; "
            "the pair graph has a chain longer than max_iters — raise it"
        )
    # singleton docs (no pairs) are their own clusters — one left join
    # of the corpus ids against the converged pair-graph labels
    full = docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    # hand the caller a self-contained materialization and release every
    # intermediate cache: the edge table and the final labels cache
    # (populated by the last changed-count job) would otherwise outlive
    # this call
    out = full.localCheckpoint(eager=True)
    sym.unpersist()
    labels.unpersist()
    return out.orderBy("doc_id")


def neardup_clusters_sql(k: int = 3, threshold: float = 0.8) -> str:
    pairs = neardup_pairs_sql(k, threshold)
    return f"""
WITH RECURSIVE
pairs AS ({pairs}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, seen) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.seen
)
SELECT node AS doc_id, min(seen) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


def keep_canonical(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    prefer_col: str | None = None,
    max_bucket_size: int | None = None,
    audit: dict | None = None,
) -> DataFrame:
    """Near-dup dedup END STATE: the corpus with one doc per cluster.

    The composition a pipeline actually materializes —
    :func:`neardup_clusters` then keep ``doc_id == cluster_id`` (the
    cluster id IS the minimum member id, so the keeper needs no extra
    ranking pass; singletons keep themselves). One semi-join back to
    the full rows.

    ``prefer_col`` switches to QUALITY-AWARE keeper selection
    (round 10): per cluster, keep the member with the highest value
    of that column (ties → lowest doc_id) — what a curation pipeline
    actually wants ("of these five near-identical pages, keep the
    one the quality gate scored best"), at the cost of one rank
    window partitioned by cluster id (clusters are near-dup-sized,
    never corpus-sized groups).

    ``max_bucket_size`` / ``audit`` thread through to
    :func:`lsh_candidate_pairs` (round 13) — the candidate-blowup
    guard for degenerate corpora, with the riding drop counters.
    """
    clusters = neardup_clusters(
        docs, k, threshold, max_bucket_size=max_bucket_size, audit=audit
    )
    if prefer_col is None:
        keepers = clusters.where(
            F.col("doc_id") == F.col("cluster_id")
        ).select("doc_id")
    else:
        scored = clusters.join(
            docs.select("doc_id", prefer_col), "doc_id"
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc(prefer_col), F.asc("doc_id")
        )
        keepers = (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("doc_id")
        )
    return docs.join(keepers, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (round 7, beyond-reference)
# ---------------------------------------------------------------------------


def _doc_token_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, __t array<string>) — the whitespace tokenize shared by
    the span finder and the span cutter, factored out so a caller can
    pay it ONCE (``cut_duplicated_spans`` persists it — ADVICE r7)."""
    return docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("__t")
    )


def duplicated_spans(
    docs: DataFrame, k: int = 5, min_count: int = 2, tokens: DataFrame | None = None
) -> DataFrame:
    """Maximal duplicated token SPANS — the exact-substring dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), token granularity: every maximal run of
    positions whose ``k``-token grams occur ≥ ``min_count`` times in
    the corpus. Whole-doc dedup (:func:`exact_dedup`) misses a
    boilerplate paragraph pasted into thousands of otherwise-distinct
    pages; this finds the paragraph itself.

    Soundness contract: a substring of ≥ k tokens duplicated anywhere
    in the corpus is covered by some reported span (every one of its
    grams repeats); duplicated grams whose COVERAGE overlaps or abuts
    (start positions within ``k`` of each other — gram at ``p`` covers
    tokens ``[p, p+k-1]``) merge into ONE maximal span (the coverage
    union), so spans never fragment and never overlap, and
    ``span_tokens`` counts every covered token exactly once. (Round 8
    fix — VERDICT r7 item 1: the r7 version broke islands on
    consecutive START positions, so grams whose starts differed by
    2..k produced OVERLAPPING spans and ``span_tokens`` double-counted
    the shared tokens; islands now break on a coverage gap,
    ``pos − lag(pos) > k``.)

    Scale shape: one tokenize → posexplode (positions ≈ corpus token
    count — this is the op's honest cost, the same explode budget as
    tfidf) → one (gram) count aggregate (map-side combinable) → one
    key equi-join back → a per-DOC window whose partitions are
    bounded by document length, never corpus-sized.

    Output: (doc_id, span_start, span_end, span_tokens) — 0-based
    inclusive token positions, ordered.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    # tokens= lets a caller reuse (typically persist) one tokenize
    # across this and the rebuild side — must be _doc_token_arrays(docs)
    toks = (
        tokens if tokens is not None else _doc_token_arrays(docs)
    ).where(F.size("__t") >= k)
    gram = F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at("__t", i + j + 1) for j in range(k)]
        ),
    )
    grams = toks.select(
        "doc_id", F.posexplode(gram).alias("pos", "__gram")
    )
    counts = grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__c"))
    dup_pos = grams.join(
        counts.where(F.col("__c") >= min_count).select("__gram"), "__gram"
    ).select("doc_id", "pos")
    # gaps-and-islands at COVERAGE granularity: a new island starts
    # when the previous duplicated gram's coverage [prev, prev+k-1]
    # neither overlaps nor abuts this one's (gap in covered tokens ⇔
    # pos − prev > k); cumulative-summing the break flags yields the
    # island id. (pos − row_number() would merge only CONSECUTIVE
    # starts — the r7 defect.)
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup_pos.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
    ).withColumn(
        "__grp",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("int").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
        .orderBy("doc_id", "span_start")
    )


def duplicated_spans_sql(
    k: int = 5, min_count: int = 2, source: str = "documents"
) -> str:
    """DuckDB twin of :func:`duplicated_spans` (list_slice grams +
    the same coverage-gap gaps-and-islands collapse, independently:
    a new island when pos − lag(pos) > k, cumulative-summed)."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), ' +') AS t FROM {source}
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS gram
  FROM toks, unnest(range(1, len(t) - {k} + 2)) AS u(i)
  WHERE len(t) >= {k}
),
c AS (SELECT gram FROM g GROUP BY gram HAVING count(1) >= {min_count}),
dp AS (SELECT doc_id, pos FROM g JOIN c USING (gram)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {k} THEN 1 ELSE 0 END AS brk
  FROM dp
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS grp
  FROM fl
)
SELECT doc_id, cast(min(pos) AS INT) AS span_start,
       cast(max(pos) + {k - 1} AS INT) AS span_end,
       cast(max(pos) + {k - 1} - min(pos) + 1 AS INT) AS span_tokens
FROM isl GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


def cut_duplicated_spans(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The REWRITE side of exact-substring dedup: return the corpus
    with every duplicated span's tokens removed (Lee et al. cut the
    duplicated bytes from the training set rather than dropping whole
    documents). Text is rebuilt from the kept tokens with single
    spaces — a documented normalization (original inter-token
    whitespace is not preserved; the tokenize→rebuild round trip is
    whitespace-normalizing by construction).

    ``spans=`` accepts a precomputed :func:`duplicated_spans` frame
    (same docs/k/min_count — the caller's contract) so a pipeline that
    materializes the spans anyway never pays the gram count twice
    (ADVICE r7). Without it, the span pass runs here over a PERSISTED
    shared tokenize — one scan+split feeds both the gram finder and
    the rebuild (the cache entry is plan-keyed, so repeated identical
    calls reuse rather than accumulate; MEMORY_AND_DISK, evictable).

    Output: (doc_id, text, n_tokens_kept, n_tokens_cut).
    """
    from pyspark.storagelevel import StorageLevel

    if k < 2:
        raise ValueError("k must be >= 2")
    # the tokenize always feeds ≥2 consumers (rebuild + totals, plus
    # the gram finder when spans is None): persist so the text
    # scan+split happens once per run
    toks = _doc_token_arrays(docs).persist(StorageLevel.MEMORY_AND_DISK)
    if spans is None:
        spans = duplicated_spans(docs, k=k, min_count=min_count, tokens=toks)
    tok_pos = toks.select(
        "doc_id", F.posexplode("__t").alias("pos", "__tok")
    )
    covered = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    kept = tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
    )
    totals = tok_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n_total")
    )
    # fully-cut docs (every token inside a span) surface with empty
    # text rather than dropping out
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_tokens_kept", F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
            (F.col("__n_total") - F.coalesce("n_tokens_kept", F.lit(0))).alias(
                "n_tokens_cut"
            ),
        )
    )


def cut_duplicated_spans_sql(
    k: int = 5, min_count: int = 2, source: str = "documents"
) -> str:
    """DuckDB twin of :func:`cut_duplicated_spans`, reduced to the
    gate surface: (doc_id, content_hash = md5 of the rebuilt text,
    n_tokens_cut). The rebuild is string_agg over kept positions —
    the same whitespace-normalizing tokenize→rebuild round trip."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), ' +') AS t FROM {source}
),
tp AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS gram
  FROM toks, unnest(range(1, len(t) - {k} + 2)) AS u(i)
  WHERE len(t) >= {k}
),
c AS (SELECT gram FROM g GROUP BY gram HAVING count(1) >= {min_count}),
dp AS (SELECT doc_id, pos FROM g JOIN c USING (gram)),
covered AS (
  SELECT DISTINCT doc_id, cast(p AS BIGINT) AS pos
  FROM dp, unnest(range(pos, pos + {k})) AS u(p)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tp LEFT JOIN covered USING (doc_id, pos)
  WHERE covered.pos IS NULL
),
rebuilt AS (
  SELECT doc_id,
         coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS text,
         count(1) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, count(1) AS n_total FROM tp GROUP BY doc_id)
SELECT t.doc_id, md5(coalesce(r.text, '')) AS content_hash,
       cast(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_cut
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""
