"""Dimension maintenance operators — SURVEY §2.3 J3/J4/J5, §2.4 A1.

The reference maintains dims with three SQL Server patterns:

- **insert-if-missing** (``INSERT … SELECT DISTINCT … WHERE NOT
  EXISTS``, reference etl/order_info_etl.py:410-439) — J3;
- **insert-only MERGE** for dim_date (:146-154) — J5, same semantics;
- **correlated UPDATE backfill/enrich** (:443-455,
  product_info_etl.py:374-386) — J4.

Spark has no in-place UPDATE; both patterns become *rebuilds* that
preserve the uniqueness guarantees SQL Server enforced with
constraints. At scale these are broadcast-friendly: the "new keys"
side is distinct-reduced before the anti-join, and dims stay far under
the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import broadcast_threshold_bytes, plan_size_bytes

__all__ = [
    "cdc_apply",
    "entity_clusters",
    "entity_match_pairs",
    "scd2_apply",
    "scd2_lookup",
    "SCD2_END_OF_TIME",
    "upsert_missing",
    "enrich_coalesce",
    "backfill_from_staging",
    "merge_dim",
]


def upsert_missing(dim: DataFrame, staged: DataFrame, key: str | list[str]) -> DataFrame:
    """J3/J5 — append staged rows whose key is absent from ``dim``.

    ``SELECT DISTINCT`` on the staged side first (A1 — reference
    etl/order_info_etl.py:413) so a key that appears on many staging
    rows inserts once; then a left_anti join (Catalyst's own rewrite of
    ``NOT EXISTS``) and unionByName. Column set follows ``dim``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    new_rows = (
        staged.select(*dim.columns)
        .dropDuplicates(keys)
        .join(F.broadcast(dim.select(*keys)), on=keys, how="left_anti")
    )
    return dim.unionByName(new_rows)


def enrich_coalesce(
    dim: DataFrame,
    staged: DataFrame,
    key: str | list[str],
    enrich_cols: list[str],
    prefer: str = "staged",
) -> DataFrame:
    """J4 — rebuild ``dim`` with ``COALESCE`` enrichment from staging.

    Reference: ``UPDATE p SET x = COALESCE(s.x, p.x) FROM dim p JOIN
    stg s ON key`` (etl/product_info_etl.py:374-386). When several
    staging rows share a key, SQL Server picks an arbitrary winner; we
    pick a deterministic one — max() per key (documented divergence,
    SURVEY §7 gotchas).
    """
    keys = [key] if isinstance(key, str) else list(key)
    agg = staged.groupBy(*keys).agg(
        *[F.max(c).alias(f"__stg_{c}") for c in enrich_cols]
    )
    out = dim.join(F.broadcast(agg), on=keys, how="left")
    for c in enrich_cols:
        new = (
            F.coalesce(F.col(f"__stg_{c}"), F.col(c))
            if prefer == "staged"
            else F.coalesce(F.col(c), F.col(f"__stg_{c}"))
        )
        out = out.withColumn(c, new)
    return out.drop(*[f"__stg_{c}" for c in enrich_cols]).select(*dim.columns)


def merge_dim(
    dim: DataFrame,
    staged: DataFrame,
    key: str | list[str],
    enrich_cols: list[str] | None = None,
) -> DataFrame:
    """Full MERGE semantics: update-matched + insert-missing, one op.

    The reference's product upsert runs both statements back to back —
    insert-if-missing (etl/product_info_etl.py:363-372) then the
    COALESCE-enrich UPDATE of matched rows (:374-386). This composes
    the same pair as one rebuild (the ``MERGE … WHEN MATCHED THEN
    UPDATE WHEN NOT MATCHED THEN INSERT`` shape on an engine without
    in-place update): enrich first so existing rows pick up staged
    attributes, then append staged keys the dim lacks. Both sides stay
    broadcast-friendly; the dim side never shuffles.
    """
    out = enrich_coalesce(dim, staged, key, enrich_cols) if enrich_cols else dim
    return upsert_missing(out, staged, key)


def backfill_from_staging(
    dim: DataFrame,
    staged: DataFrame,
    key: str | list[str],
    fill_cols: list[str],
) -> DataFrame:
    """J4 (customer flavor) — fill NULL dim attributes from staging.

    Reference backfills dim_customer.state_code/postal_code where NULL
    (etl/order_info_etl.py:443-455). Same deterministic-winner rule as
    :func:`enrich_coalesce` with ``prefer='dim'``.
    """
    return enrich_coalesce(dim, staged, key, fill_cols, prefer="dim")


SCD2_END_OF_TIME = "9999-12-31 00:00:00"


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    tracked: list[str],
    effective_ts: str = "effective_ts",
    strict: bool = False,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 merge: keep full history.

    The reference truncate-reloads its dims (history destroyed on every
    load); this is the warehouse-grade alternative — each change to a
    ``tracked`` attribute CLOSES the current row (``valid_to`` set,
    ``is_current`` false) and INSERTS a new version valid from the
    change's ``effective_ts``.

    ``dim`` carries (key, tracked..., valid_from, valid_to,
    is_current); ``changes`` carries (key, tracked..., effective_ts).
    Per batch, one change row per key (dedupe upstream — latest wins is
    a ``row_number`` filter). Semantics:

    - unchanged keys (all tracked values null-safe equal): untouched;
    - changed keys: current row closed at ``effective_ts``, new
      current row appended;
    - brand-new keys: inserted as current from ``effective_ts``;
    - historical (non-current) rows always pass through.

    ORDERING CONTRACT: changes must arrive in effective-time order
    relative to the dim (``effective_ts`` ≥ the current row's
    ``valid_from``). A late-arriving change would close the current
    row BEFORE it opened (inverted interval) — order/route late data
    upstream, the same posture as the watermarked streaming ops.
    ``strict=True`` SELF-ENFORCES the contract: before returning, an
    eager check scans the closing rows for inverted intervals
    (``valid_to < valid_from``) and raises ``ValueError`` naming
    sample keys — a contract violation surfaces as an error, never as
    silently corrupt history. Cost: one extra change-batch-sized job
    per apply (the strict check's ``limit(5).collect()``
    short-circuits via LocalLimit, so it PARTIALLY fills the
    change-side persist — downstream branches may still compute the
    unvisited partitions once; ADVICE r18); the deliberately-lazy
    alternative (a
    ``raise_error`` column) would be PRUNED away by any downstream
    plan that doesn't read ``valid_to``, which is exactly when
    corruption slips through.

    Scale shape: one change-detection key-equi-join, cached once
    (lazy ``persist`` — three output branches consume it, recompute
    would triple the join; round 18 switched the eager
    ``localCheckpoint`` to a lazy persist so construction queues no
    jobs and chained applies pipeline in one action — measured 4.4s →
    3.6s on the sf0.1 two-batch entry), then a close-out join +
    unions — all key-partitioned shuffles, no window over the full
    dim. Rerunning the same batch is a NO-OP (idempotent): the new
    current row equals the change, so change detection finds nothing.
    """
    cur = dim.where(F.col("is_current"))
    hist = dim.where(~F.col("is_current"))
    chg = changes.select(
        key, *tracked, F.col(effective_ts).alias("__eff")
    )
    # a change is REAL when the key is new or any tracked value differs
    # (null-safe: NULL -> value and value -> NULL both count). The
    # new-key marker is a non-nullable literal — testing a data column
    # like valid_from for NULL would misread a legitimately-NULL value
    # as "key absent"
    joined = chg.alias("c").join(
        cur.withColumn("__present", F.lit(True)).alias("d"), on=key, how="left"
    )
    differs = F.lit(False)
    for t in tracked:
        differs = differs | ~F.col(f"c.{t}").eqNullSafe(F.col(f"d.{t}"))
    from pyspark.storagelevel import StorageLevel

    real = (
        joined.where(F.col("d.__present").isNull() | differs)
        .select("c.*")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    new_rows = real.select(
        key,
        *tracked,
        F.col("__eff").alias("valid_from"),
        F.lit(SCD2_END_OF_TIME).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closing = (
        cur.alias("d")
        .join(real.select(key, "__eff").alias("r"), on=key, how="inner")
        .select(
            key,
            *[F.col(f"d.{t}") for t in tracked],
            F.col("d.valid_from").alias("valid_from"),
            F.col("r.__eff").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    if strict:
        late = closing.where(F.col("valid_to") < F.col("valid_from"))
        sample = [r[0] for r in late.select(key).limit(5).collect()]
        if sample:
            raise ValueError(
                "scd2_apply(strict=True): late-arriving change(s) — "
                "effective_ts earlier than the current row's valid_from "
                f"for key(s) {sample}; order or route late data upstream"
            )
    untouched_cur = cur.join(real.select(key), on=key, how="left_anti")
    return (
        hist.unionByName(untouched_cur)
        .unionByName(closing)
        .unionByName(new_rows)
    )


#: auto-salt cell cap — the r7 shuffle-regime probe's measured sweet
#: spot (mcs=250: 234s → 27.4s on the 20k same-prefix hot cell,
#: output-identical; mcs=650 was ~2× slower than 250)
_AUTO_CELL_SIZE = 250


def entity_match_pairs(
    dim: DataFrame,
    key: str = "customer_id",
    name_col: str = "customer_name",
    block_cols: list[str] | None = None,
    max_distance: int = 2,
    prefix_len: int = 2,
    max_cell_size: int | str | None = "auto",
    max_salts: int = 256,
    audit: dict | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Record linkage: probable-duplicate entity pairs via blocked
    fuzzy matching.

    The BI-side twin of the corpus dedup family — "is CUST-0042 'Acme
    Corp.' the same customer as CUST-7713 'ACME CORP'?" Candidates
    come from BLOCKING only (equi-join on ``block_cols`` + the
    normalized-name prefix), never all-pairs — the same
    candidates-then-verify shape as the MinHash/LSH path, so the join
    stays key-bounded at any dim size. Verification is native
    ``levenshtein`` on the normalized names (JVM codegen, no UDF).

    Normalization: lowercase, strip punctuation, collapse whitespace —
    so case/punctuation variants block together. Returns
    (key_a, key_b, name_a, name_b, distance), ``key_a < key_b``.

    Recall contract (documented, same spirit as LSH): pairs whose
    first ``prefix_len`` normalized chars differ (e.g. 'Acme' vs
    'Akme' typo in char 2) are NOT candidates; block-column values
    compare null-safely (two NULL states DO block together — the
    reference data has NULL state codes). Names that normalize to
    empty (punctuation-only) are excluded entirely — every such pair
    would otherwise score distance 0. Loosen by blocking on fewer
    columns.

    Skew contract (measured — PLAN_AUDIT round-6 blocking-skew probe):
    candidate count is quadratic in the size of a (block, prefix)
    cell, so one dominant block whose names share a prefix is THE
    failure mode. The candidate VOLUME of such a cell is a data
    property — no key change shrinks it without a recall trade — but
    the PLAN defect (all of it landing on one task) is fixable:
    ``max_cell_size=m`` auto-salts every oversized cell, splitting
    side A into ``ceil(cell/m)`` hash-of-key salt groups (capped at
    ``max_salts``) and replicating side B across them, so the ~cell²
    comparisons spread over that many tasks. OUTPUT-IDENTICAL to the
    unsalted join by construction (each (a, b) pair meets exactly
    once — at a's salt; unit-pinned), i.e. recall is untouched; the
    costs are one cell-size aggregate + replicated shuffle volume for
    the oversized cells only.

    ``max_cell_size="auto"`` (the default — VERDICT r7 item 4, refined
    r13) picks the regime the way Spark's planner does: if Catalyst's
    size estimate for the blocked side is within
    ``autoBroadcastJoinThreshold`` the join will be a BROADCAST join —
    Spark already spreads the hot cell across the probe side's input
    partitions, salting is pure overhead (measured 2–4× WORSE in r7),
    so the unsalted plan is used. Otherwise the join shuffles — and
    auto spends ONE cheap prescan aggregate (an eager driver job at
    construction time: cell counts → max cell + total pair work) and
    salts at the probe-measured cap (250) only when the hottest
    cell's C(n,2) comparisons exceed HALF an average reducer's pair
    share — the straggler condition, with a 2× margin absorbing the
    5%-sample variance (ADVICE r13). The 10M Zipfian-surname probe
    (PLAN_AUDIT r13) showed the old always-salt-in-shuffle-regime
    rule costing 1.8× on realistically-skewed data whose hottest cell
    was 4% of a reducer share. Pass an int to force salting at that
    cap, ``None`` to force the unsalted plan (no prescan job runs in
    either explicit mode).

    NOTE THE EAGERNESS (ADVICE r13): ``"auto"`` in the shuffle regime
    runs the sampled prescan as a real Spark job at
    DATAFRAME-CONSTRUCTION time — this function is not fully lazy in
    its default mode. AMORTIZING REPEAT CALLS (round 14 — VERDICT r13
    item 4): pass ``audit={}`` and the call records the decision it
    made — ``audit["resolved_max_cell_size"]`` (an int or None, plus
    regime/prescan-seconds/sampled stats) — and subsequent matches
    against the SAME corpus can pass that resolved value straight
    back as ``max_cell_size``, skipping the prescan job entirely.
    Measured (10M Zipf probe, PLAN_AUDIT r14): the prescan first
    measured 15.9s of a 100.6s 10M run (15.8%; ~24% at 1–3M) because
    sampling the PROJECTED frame ran the normalization regex over
    every row (Catalyst has no Sample-through-Project pushdown);
    sampling the raw dim first cut it to 2.2s/72.4s (3.1%; ~5% at
    3M). Still: it pays for itself ONCE (the decision it replaced
    cost 1.8×) — repeated matching against the same corpus should
    replay the resolved value.

    ``ordered=False`` (round 19) skips the final global sort. The sort
    is presentation only — no semantics ride on it — and it is NOT
    free: a global ``orderBy`` plans a range exchange whose
    RangePartitioner first runs a SAMPLING pass over its child, i.e.
    the entire blocked join + levenshtein verification is EVALUATED
    TWICE (measured at sf0.1: the sampling pass alone was ~10
    CPU-seconds over 4M candidates, as much as the real pass).
    Consumers that aggregate, cluster, or hash the pairs
    order-insensitively should pass ``False``; the default keeps the
    documented sorted contract.
    """
    block_cols = block_cols if block_cols is not None else ["state_code"]
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(name_col)), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    def _blocked(rows: DataFrame) -> DataFrame:
        # normalization + blocking projection, row-wise deterministic --
        # factored so the prescan can apply it AFTER sampling (round 14:
        # Catalyst has no Sample-through-Project pushdown, so sampling
        # the projected frame ran the regex over EVERY row)
        return (
            rows
            # the empties-excluded contract, phrased over the RAW name
            # (round 18): length(__norm) > 0 ⟺ the name has at least
            # one alphanumeric character. A filter on the derived
            # __norm column is pushed below any upstream exchange with
            # the whole normalization regex chain duplicated into it
            # (the guide-§4.4 pushdown-duplication trap, pure-JVM
            # form); the raw-column predicate is one cheap rlike that
            # pushes down harmlessly. NULL names fail rlike, exactly
            # as NULL __norm failed the length test.
            .where(F.lower(F.col(name_col)).rlike("[a-z0-9]"))
            .select(
                F.col(key).alias("__k"),
                F.col(name_col).alias("__name"),
                norm.alias("__norm"),
                # null-safe blocking: equi-join drops NULLs, so NULL block
                # values coalesce to a sentinel no real value collides with
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\u0000NULL")).alias(c)
                    for c in block_cols
                ],
            )
            .withColumn("__prefix", F.substring("__norm", 1, prefix_len))
            # normalized length, computed ONCE per row: the verify
            # stage's sound pre-gate compares these integers per
            # candidate pair (round 19 — see the join below)
            .withColumn("__ln", F.length("__norm"))
        )

    base = _blocked(dim)
    join_keys = [*block_cols, "__prefix"]
    auto_regime: str | None = None  # set only when max_cell_size="auto"
    if isinstance(max_cell_size, str):
        if max_cell_size != "auto":
            raise ValueError(
                "max_cell_size must be an int, None, or 'auto'"
            )
        thr = broadcast_threshold_bytes(dim)
        est = plan_size_bytes(base)
        if thr > 0 and est <= thr:
            # broadcast regime: Spark spreads the hot cell across the
            # probe side's partitions already; salting measured 2-4×
            # WORSE (r7)
            max_cell_size = None
            auto_regime = "broadcast"
            if audit is not None:
                audit.update(
                    {
                        "regime": "broadcast",
                        "resolved_max_cell_size": None,
                        "prescan_seconds": 0.0,
                    }
                )
        else:
            # shuffle regime (round 13 — the 10M Zipfian probe): the
            # row-count cap alone over-salts. At realistic skew
            # (Zipf surnames × zip3: max cell 696 of 10M rows) the
            # hottest cell's pair-work is ~4% of ONE reducer's share —
            # salting there cost 1.8× (30.4s vs 17.2s at 3M) in
            # sizes-aggregate + join overhead and bought nothing. So
            # AUTO now spends one cheap prescan aggregate (cell-count
            # frame → two scalars) and salts only when the hottest
            # cell's C(n,2) comparisons exceed an average reducer's
            # pair share — the actual straggler condition. The r7
            # degenerate corpus (20k-row same-prefix cell = 100% of
            # the pair work) still trips it; measured regime tables in
            # PLAN_AUDIT r13.
            # 5% sample keeps the prescan ~free (the FULL cell
            # aggregate measured ~10s at 3M rows — 60% overhead when
            # the verdict is "don't salt"). Unbiased scaling: a pair
            # survives sampling with prob f², a cell count with f;
            # dominance detection needs no boundary precision (cells
            # near the cap don't dominate), and the decision only
            # picks a plan — output is identical either way.
            import time as _time

            _t0 = _time.perf_counter()
            f = 0.05
            pair_w = (F.col("__n") * (F.col("__n") - 1) / 2).cast("double")
            stats = (
                # sample the RAW dim, then project: Catalyst has no
                # Sample-through-Project pushdown, so sampling `base`
                # ran the normalization regex over every row — the
                # prescan measured 15.9s/100.6s at 10M (PLAN_AUDIT
                # r14) before this reorder. Row-wise-deterministic
                # projection ⇒ sample-then-project is distributionally
                # identical to project-then-sample (each surviving
                # base row kept independently w.p. f either way); the
                # decision uses scaled aggregates, not exact counts.
                _blocked(dim.sample(fraction=f, seed=13))
                .groupBy(*join_keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .agg(
                    F.max("__n").alias("mx"),
                    F.sum(pair_w).alias("tp"),
                )
                .first()
            )
            try:
                parts = int(
                    base.sparkSession.conf.get("spark.sql.shuffle.partitions")
                )
            except (TypeError, ValueError):
                parts = 200
            mx = (stats.mx or 0) / f
            total_pairs = (stats.tp or 0.0) / (f * f)
            # trigger at HALF a reducer's pair share (ADVICE r13): the
            # 5% sample underestimates the hot cell's count by up to
            # ~1/f on a near-boundary cell; a 2× margin absorbs that
            # variance, and a false-positive salt only costs the
            # bounded sizes-aggregate overhead, never correctness
            hot_dominates = (
                mx > _AUTO_CELL_SIZE
                and mx * (mx - 1) / 2 > 0.5 * total_pairs / max(parts, 1)
            )
            max_cell_size = _AUTO_CELL_SIZE if hot_dominates else None
            auto_regime = "shuffle"
            if audit is not None:
                audit.update(
                    {
                        "regime": "shuffle",
                        "resolved_max_cell_size": max_cell_size,
                        "prescan_seconds": _time.perf_counter() - _t0,
                        "sampled_max_cell_scaled": mx,
                        "sampled_total_pairs_scaled": total_pairs,
                    }
                )
    elif audit is not None:
        # explicit int/None (e.g. a resolved value replayed from a
        # prior call's audit): no prescan job, decision recorded as-is
        audit.update(
            {
                "regime": "explicit",
                "resolved_max_cell_size": max_cell_size,
                "prescan_seconds": 0.0,
            }
        )
    if max_cell_size is not None:
        if max_cell_size < 1:
            raise ValueError("max_cell_size must be >= 1")
        # detect oversized (block, prefix) cells (cell-count-sized
        # aggregate) and assign each a salt fan-out; healthy cells get
        # __nsalt = 1 and behave exactly as the unsalted path
        sizes = base.groupBy(*join_keys).agg(
            F.least(
                F.ceil(F.count(F.lit(1)) / F.lit(max_cell_size)),
                F.lit(max_salts).cast("long"),
            ).alias("__nsalt")
        )
        base = base.join(sizes, on=join_keys)
        join_keys = [*join_keys, "__salt"]
    a_extra = (
        # side A: one deterministic salt per row (hash of the key)
        [F.pmod(F.xxhash64("__k"), F.col("__nsalt")).alias("__salt")]
        if max_cell_size is not None
        else []
    )
    b_extra = (
        # side B: replicated to EVERY salt of its cell — pair (a, b)
        # meets exactly once, at a's salt, so the output is identical
        # to the unsalted join (no recall trade, only parallelism)
        [
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("__nsalt") - 1)
            ).alias("__salt")
        ]
        if max_cell_size is not None
        else []
    )
    a = base.select(
        F.col("__k").alias("key_a"),
        F.col("__name").alias("name_a"),
        F.col("__norm").alias("__na"),
        F.col("__ln").alias("__la"),
        *block_cols,
        "__prefix",
        *a_extra,
    )
    b = base.select(
        F.col("__k").alias("key_b"),
        F.col("__name").alias("name_b"),
        F.col("__norm").alias("__nb"),
        F.col("__ln").alias("__lb"),
        *block_cols,
        "__prefix",
        *b_extra,
    )
    if max_cell_size is not None:
        # REGIME NOTE (measured, PLAN_AUDIT round 7): salting matters
        # only when this join is a SHUFFLE join — i.e. the dim is too
        # big to broadcast, so hash-partitioning by (block, prefix)
        # lands the entire hot cell on ONE reducer task. When the
        # smaller side fits the broadcast threshold, Spark already
        # parallelizes the hot cell across the probe side's input
        # partitions and salting is pure overhead — callers in that
        # regime should leave max_cell_size=None. Two pins make the
        # salted shuffle join actually parallel:
        # - explicit-numPartitions repartition on the join keys: AQE
        #   coalesces post-shuffle partitions by INPUT bytes (a hot
        #   cell is a few hundred KB) and would fold every salt group
        #   back into one task while the join OUTPUT is quadratic;
        #   explicit repartition is exempt, and both sides sharing the
        #   user-specified partitioning lets the join reuse it;
        # - a shuffle_hash hint: sort-merge join buffers+replays each
        #   duplicate-key group (ExternalAppendOnlyUnsafeRowArray) —
        #   pathological when one key group IS the workload; a hash
        #   join streams the probe side instead.
        n_part = max(base.sparkSession.sparkContext.defaultParallelism, 2)
        a = a.repartition(n_part, *join_keys)
        b = b.repartition(n_part, *join_keys).hint("shuffle_hash")
    elif auto_regime is not None:
        # VERIFICATION-PARALLELISM FLOOR (round 16, found by the sf1
        # scale sweep): the pair verification is CPU-bound (bounded
        # levenshtein per candidate) but byte-TINY, so both unsalted
        # auto regimes used to serialize it onto 1-2 tasks of a
        # 32-core box —
        # - broadcast regime: parallelism inherits the probe side's
        #   SCAN splits, and a ≤10MB dim parquet is 1-2 splits;
        # - unsalted shuffle regime: AQE coalesces the post-shuffle
        #   partitions by INPUT bytes (~tens of MB → 1-2 partitions)
        #   while the join OUTPUT is quadratic — the same defect the
        #   salted path already pins with its explicit repartition.
        # The floor costs one dim-projection-sized shuffle (≤ tens of
        # MB in these regimes by definition). Explicit int/None modes
        # keep their documented plans untouched. Measured at sf1:
        # entity_match 60.4s → see PLAN_AUDIT round 16.
        n_part = max(base.sparkSession.sparkContext.defaultParallelism, 2)
        if auto_regime == "broadcast":
            # pin the build side so the repartitioned probe side's
            # parallelism is what the verification actually runs at
            a = a.repartition(n_part)
            b = F.broadcast(b)
        else:
            a = a.repartition(n_part, *join_keys)
            b = b.repartition(n_part, *join_keys).hint("shuffle_hash")
    # bounded levenshtein (3-arg form): the JVM computes with an early
    # exit and returns −1 past the bound — on candidate-heavy blocks
    # most pairs exceed max_distance, so the bound does the least work
    # exactly where there is the most of it. Kept pairs carry their
    # true distance (the bound only changes the reject path).
    #
    # SOUND length pre-gate (round 19 — guide §1.2 per-task work):
    # every edit changes the string length by at most one, so
    # |len(a) − len(b)| > max_distance ⇒ distance > max_distance —
    # such a pair can NEVER pass the verify. The gate is one integer
    # compare on per-ROW precomputed lengths where the levenshtein is
    # a per-PAIR banded DP plus two UTF8 code-point counts; measured
    # at sf0.1 it drops 1.10M of 4.02M candidates (27%) before the
    # DP runs. Output-identical by construction (no false negatives:
    # kept pairs are exactly those the bare levenshtein filter kept).
    out = (
        a.join(b, on=join_keys)
        .where(F.col("key_a") < F.col("key_b"))
        .where(
            F.abs(F.col("__la") - F.col("__lb")) <= F.lit(max_distance)
        )
        .withColumn(
            "distance",
            F.levenshtein(
                F.col("__na"), F.col("__nb"), threshold=max_distance
            ).cast("int"),
        )
        .where(F.col("distance") >= 0)
        .select("key_a", "key_b", "name_a", "name_b", "distance")
    )
    return out.orderBy("key_a", "key_b") if ordered else out


def scd2_lookup(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    ts: str = "ts",
    attrs: list[str] | None = None,
) -> DataFrame:
    """Point-in-time dimension lookup against SCD2 history.

    What the history exists FOR: each fact row joins the dim VERSION
    that was valid at the fact's own timestamp (``valid_from ≤ ts <
    valid_to``), so a July order carries July's customer state even
    after the customer moved in August. Left join: facts before the
    key's first version (or with no dim key) get NULL attributes.

    Scale shape: a key equi-join with the interval predicate as a
    residual filter — versions-per-key is small, so the candidate
    blowup is bounded by version count, never a range join over the
    fact; the intervals produced by :func:`scd2_apply` partition time
    per key (half-open: a fact exactly at a change instant gets the
    NEW version), so at most one version survives per fact row.
    """
    attrs = attrs or [
        c
        for c in dim.columns
        if c not in (key, "valid_from", "valid_to", "is_current")
    ]
    d = dim.select(
        key, "valid_from", "valid_to", *[F.col(a).alias(f"dim_{a}") for a in attrs]
    )
    f = fact.alias("f")
    cond = (
        (F.col(f"f.{key}") == d[key])
        & (F.col(f"f.{ts}") >= d["valid_from"])
        & (F.col(f"f.{ts}") < d["valid_to"])
    )
    return f.join(d, cond, "left").select(
        "f.*", *[f"dim_{a}" for a in attrs]
    )


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change batch (Debezium-style I/U/D rows) to a
    snapshot — the MERGE a warehouse runs per replication micro-batch.

    ``changes`` carries the snapshot's columns plus ``op_col``
    ('I' insert / 'U' update / 'D' delete) and ``seq_col`` (the log
    sequence — commit LSN, binlog position). Per key the HIGHEST
    sequence wins (last-writer-wins); a winning D removes the key,
    a winning I/U upserts the row. Re-applying the same batch is a
    no-op (idempotent — replayed micro-batches are the normal case
    for at-least-once log consumers).

    CONTRACT: ``seq_col`` must order each key's changes totally (equal
    seqs for one key are broken deterministically by op 'U' > 'I' >
    'D', but relying on that means the log lost its ordering — fix
    upstream). The snapshot must not contain duplicate keys.

    Scale shape: the dedup window runs over the CHANGE BATCH only
    (micro-batch-sized, never the snapshot); the snapshot sees one key
    equi-join (anti) + union — so cost per batch is
    O(batch) + one snapshot pass, independent of history depth.
    """
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    # materialized once (micro-batch-sized): both the touched-keys
    # anti-join side and the upsert rows consume it — left lazy, the
    # dedup window would run twice. Kept an EAGER checkpoint (round 18
    # measured the lazy-persist variant: the construction job it saves
    # is micro-batch-sized noise, and the checkpoint's lineage cut is
    # what keeps the downstream plan window-free).
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=True)
    )
    touched = latest.select(key)
    upserts = latest.where(F.col(op_col) != "D").select(*snapshot.columns)
    return snapshot.join(touched, on=key, how="left_anti").unionByName(upserts)


def entity_clusters(
    dim: DataFrame,
    key: str = "customer_id",
    name_col: str = "customer_name",
    block_cols: list[str] | None = None,
    max_distance: int = 2,
    prefix_len: int = 2,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Entity-resolution END STATE: every record → a canonical
    ``entity_id``.

    :func:`entity_match_pairs` finds probable-duplicate PAIRS; this
    collapses them transitively (A~B, B~C ⇒ one entity even when A and
    C never blocked together) by reusing the SAME min-label-propagation
    connected-components routine the corpus dedup path runs
    (:func:`..dedup.neardup_clusters` with ``pairs=`` — one algorithm,
    two domains, zero drift). ``entity_id`` = min key in the component;
    unmatched records are their own entity. Pass ``pairs=`` to reuse an
    already-materialized match output (pair generation dominates cost,
    same argument as the dedup flow).

    Returns (key, entity_id) — join it back to the dim to pick
    canonical survivor attributes, exactly like
    :func:`..dedup.keep_canonical` does for documents.
    """
    from .dedup import neardup_clusters

    if pairs is None:
        pairs = entity_match_pairs(
            dim,
            key=key,
            name_col=name_col,
            block_cols=block_cols,
            max_distance=max_distance,
            prefix_len=prefix_len,
        )
    edge = pairs.select(
        F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b")
    )
    nodes = dim.select(F.col(key).alias("doc_id")).distinct()
    out = neardup_clusters(nodes, pairs=edge)
    return out.select(
        F.col("doc_id").alias(key), F.col("cluster_id").alias("entity_id")
    )
