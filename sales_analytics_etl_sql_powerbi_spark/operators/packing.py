"""Sequence packing for pre-training shards (round 10,
beyond-reference).

The step between chunking/tokenization and the trainer: concatenate
the token stream in a deterministic corpus order and cut it into
fixed-``budget`` examples (GPT-style "concat then chunk" packing — no
padding waste, document boundaries fall where they fall). Each
document maps to the half-open token span ``[offset, offset + n)`` of
the virtual concatenated stream, where ``offset`` is the sum of token
counts of all documents before it; the span is then split at every
``budget`` boundary into per-example segments.

THE SCALE PROBLEM is the prefix sum: the obvious
``sum().over(Window.orderBy("doc_id"))`` has an EMPTY partition spec,
so Spark plans a single-partition sort — one task owns the whole
corpus, the classic 100×-scale killer. This module computes the same
exclusive prefix sum as a two-level distributed scan instead:

1. bucket each row by a DATA-DERIVED contiguous key range —
   ``(key − min) DIV width`` from one min/max aggregate (a
   column-pruned scan the parquet footer stats usually answer);
2. WITHIN each bucket, a window partitioned by the bucket id computes
   the local prefix sum — all buckets in parallel;
3. per-bucket totals (one row per bucket — driver-tiny) get their own
   exclusive prefix sum, and a broadcast join adds each bucket's base
   offset back.

The bucket id MUST be a pure function of the data, never of the
runtime: the first cut of this module bucketed by
``repartitionByRange`` + ``spark_partition_id()``, and under AQE the
two consumers of the bucketed frame (the window branch and the
totals aggregate) can read the range shuffle with DIFFERENT partition
coalescing, so the same row reported different pids to each branch —
offsets silently drifted by a few boundary crossings per run
(reproduced: 4 collect() runs, 4 different rowcounts; pinned by the
determinism test). Equal-width integer buckets are immune: the id is
computed from the row's own key, so every branch, retry, and replan
agrees. Skewed key distributions make buckets uneven — that degrades
parallelism, never correctness (offsets are bucket-independent) —
and doc ids from a sequence are near-uniform, the common case.
Token spans use integral arithmetic (``DIV``, never float division)
so offsets stay exact past 2^53.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens_expr

__all__ = [
    "global_prefix_sum",
    "bucketed_exclusive_scan",
    "pack_sequences",
    "pack_sequences_sql",
    "assemble_examples",
    "assemble_examples_sql",
]


def bucketed_exclusive_scan(
    bucketed: DataFrame,
    order_cols: list[str],
    weight_col: str,
    partition_cols: list[str] | None = None,
    out_col: str = "offset",
) -> DataFrame:
    """The shared two-level-scan CORE (also the engine under
    ``sampling.token_budget_mix``'s per-group variant): given a frame
    carrying an integral ``__bkt`` column whose values ascend with the
    order domain (within each partition group), add ``out_col`` = the
    EXCLUSIVE prefix sum of ``weight_col`` in (partition, order)
    order. Per-(partition, bucket) windows run in parallel; bucket
    totals (groups × buckets rows — driver-tiny) get their own
    exclusive scan; a NULL-SAFE broadcast join (``<=>`` on every
    stitch key) adds the base offsets back. Null-safety matters:
    ``Window.partitionBy`` treats NULL as a real partition group, so
    NULL-group rows DO have a local cumsum and per-bucket totals — a
    plain equi-join would never match their NULL partition key and
    silently zero their cross-bucket base (the round-11 bug: a
    zero-weight NULL-group row in a later bucket was flagged in-budget
    when the accumulated earlier-bucket weight said out; pinned by
    ``tests/test_packing.py::test_scan_null_group_cross_bucket``).
    ``<=>`` keys still plan as BroadcastHashJoin (Spark hashes
    null-safe keys via coalesce), so the stitch stays shuffle-free.
    Callers own the bucket construction — that is where the
    determinism discipline lives (data-derived, never
    ``spark_partition_id``; module docstring).
    """
    parts = list(partition_cols or [])
    local_w = Window.partitionBy(*parts, "__bkt").orderBy(*order_cols)
    b = bucketed.withColumn(
        "__local_off",
        F.sum(weight_col).over(local_w) - F.col(weight_col),
    )
    totals = b.groupBy(*parts, "__bkt").agg(
        F.sum(weight_col).alias("__btot")
    )
    tot_w = (
        Window.partitionBy(*parts)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = totals.select(
        *parts,
        "__bkt",
        F.coalesce(F.sum("__btot").over(tot_w), F.lit(0)).alias("__boff"),
    )
    lhs, rhs = b.alias("__scan_l"), totals.alias("__scan_r")
    cond = F.col("__scan_l.__bkt").eqNullSafe(F.col("__scan_r.__bkt"))
    for c in parts:
        cond = cond & F.col(f"__scan_l.{c}").eqNullSafe(
            F.col(f"__scan_r.{c}")
        )
    return (
        lhs.join(F.broadcast(rhs), cond, "left")
        .select("__scan_l.*", F.col("__scan_r.__boff").alias("__boff"))
        .withColumn(
            out_col,
            (F.coalesce(F.col("__boff"), F.lit(0)) + F.col("__local_off"))
            .cast("long"),
        )
        .drop("__local_off", "__boff")
    )


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "offset",
    num_buckets: int | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``weight_col`` in ``order_col`` order,
    without a single-partition global window (module docstring). The
    order key must be a unique INTEGRAL column (it is both the
    tie-break-free sort key and the bucketing domain). Adds
    ``out_col``; preserves all input columns.

    The input feeds THREE consumers (min/max bounds, the per-bucket
    window, the bucket totals); each branch re-plans the input subtree
    with its own column pruning, so the subtree EXECUTES per branch.
    That is always CORRECT here — buckets derive from the data, so
    every recompute agrees. The input is not materialized: for
    :func:`pack_sequences`, re-reading compressed columnar source twice
    measured 4× cheaper than materializing its tokenized (much wider)
    derivative once. Cache the input first when it is costly to
    recompute.
    """
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # one column-pruned pass pins the bucket width as a plan literal —
    # deterministic however the stages replan (see module docstring
    # for why spark_partition_id() is NOT usable here) — and enforces
    # the non-NULL key contract in the same job (a NULL key would
    # otherwise bucket to NULL and silently distort the scan)
    lo, hi, n_rows, n_keys = df.agg(
        F.min(order_col),
        F.max(order_col),
        F.count(F.lit(1)),
        F.count(order_col),
    ).first()
    if n_keys != n_rows:
        raise ValueError(
            f"order_col {order_col!r} has {n_rows - n_keys} NULLs — the "
            "prefix-sum order key must be unique and non-NULL"
        )
    if lo is None:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    width = max((int(hi) - int(lo)) // num_buckets + 1, 1)
    bucketed = df.withColumn(
        "__bkt", F.expr(f"({order_col} - {int(lo)}) DIV {width}")
    )
    return bucketed_exclusive_scan(
        bucketed, [order_col], weight_col, out_col=out_col
    ).drop("__bkt")


def pack_sequences(
    docs: DataFrame,
    budget: int = 128,
    num_buckets: int | None = None,
) -> DataFrame:
    """Pack the corpus token stream into fixed-``budget`` training
    examples: (doc_id, example_id, pos_in_example, n_seg_tokens,
    seg_text) — one row per (document, example) SEGMENT, so a long
    document spans several rows and a short one shares its example
    with neighbours. Deterministic in ``doc_id`` order.

    Reassembly invariants (unit-pinned): concatenating a document's
    segments in example order restores its token sequence; every
    example except the last carries exactly ``budget`` tokens with
    segments abutting at ``pos_in_example``; example count is
    ``ceil(total_tokens / budget)``.

    PHYSICAL SHAPE (measured, not guessed, at 5M docs / 102.5M
    tokens): two source scans (window branch + totals branch —
    column-pruned compressed-columnar reads) and ONE wide exchange
    (the per-bucket window), then a per-row explode of the ≤
    ``1 + n/budget`` examples a document touches — 15.5s, no
    corpus-sized sort, no data-sized collect. Rejected alternatives,
    each measured at the same scale: materializing the tokenized
    frame once to dedup the scans (60s — token arrays are 2-3× the
    source bytes); prefix-summing narrow (doc_id, n) metadata and
    JOINING offsets back onto one tokenized scan (37s plain, 70s
    shuffle-hash — the join's co-shuffle IS a second wide exchange,
    plus its sorts/hash build). The window needs the token arrays
    downstream anyway; threading them through its one exchange is the
    minimal data movement.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    d = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", tokens_expr("text").alias("__tok"))
        .withColumn("__n", F.size("__tok").cast("long"))
        .where(F.col("__n") > 0)
    )
    # the input is recomputed per branch, deliberately: buckets are
    # data-derived, so branch recompute is CORRECT (not the
    # spark_partition_id bug), and re-reading compressed columnar source
    # twice measured 16s at 5M docs vs 60s materializing the 2-3×-wider
    # token arrays once
    d = global_prefix_sum(d, "doc_id", "__n", out_col="__off", num_buckets=num_buckets)
    b = F.lit(budget).cast("long")
    first_ex = F.expr(f"__off DIV {budget}")
    last_ex = F.expr(f"(__off + __n - 1) DIV {budget}")
    seg = d.select(
        "doc_id",
        "__tok",
        "__n",
        "__off",
        F.explode(F.sequence(first_ex, last_ex)).alias("example_id"),
    )
    seg_start = F.greatest(seg.example_id * b - F.col("__off"), F.lit(0).cast("long"))
    seg_end = F.least((seg.example_id + 1) * b - F.col("__off"), F.col("__n"))
    return seg.select(
        "doc_id",
        F.col("example_id").cast("long").alias("example_id"),
        F.greatest(F.col("__off") - seg.example_id * b, F.lit(0).cast("long"))
        .cast("long")
        .alias("pos_in_example"),
        (seg_end - seg_start).cast("long").alias("n_seg_tokens"),
        F.array_join(
            F.slice(
                "__tok",
                (seg_start + 1).cast("int"),
                (seg_end - seg_start).cast("int"),
            ),
            " ",
        ).alias("seg_text"),
    )


def pack_sequences_sql(budget: int = 128, source: str = "documents") -> str:
    """DuckDB twin: the SAME packing arithmetic over a plain
    single-window prefix sum (fine at oracle scale — the distributed
    scan is exactly what this twin cross-checks)."""
    return f"""
SELECT doc_id,
       cast(example_id AS BIGINT) AS example_id,
       cast(greatest(__off - example_id * {budget}, 0) AS BIGINT) AS pos_in_example,
       cast(least((example_id + 1) * {budget} - __off, __n)
            - greatest(example_id * {budget} - __off, 0) AS BIGINT) AS n_seg_tokens,
       array_to_string(
         __tok[greatest(example_id * {budget} - __off, 0) + 1 :
               least((example_id + 1) * {budget} - __off, __n)],
         ' ') AS seg_text
FROM (
  SELECT doc_id, __tok, __n, __off,
         unnest(generate_series(__off // {budget},
                                (__off + __n - 1) // {budget})) AS example_id
  FROM (
    SELECT doc_id, __tok, __n,
           cast(coalesce(sum(__n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS __off
    FROM (
      SELECT doc_id, string_split_regex(trim(text, ' '), ' +') AS __tok,
             len(string_split_regex(trim(text, ' '), ' +')) AS __n
      FROM {source} WHERE text IS NOT NULL
    ) t WHERE __n > 0
  ) o
) e
"""


def assemble_examples(segs: DataFrame) -> DataFrame:
    """Final assembly: collapse :func:`pack_sequences` segments into
    one row per training example — (example_id, n_tokens, n_docs,
    text) — the frame :func:`..sampling.training_shards` shuffles.
    One groupBy(example_id) shuffle whose groups are bounded by
    construction (an example holds ≤ budget tokens, so ≤ budget
    segments); segment order is restored from ``pos_in_example``
    inside the row (array_sort on the struct, position first), never
    by a global sort.
    """
    return segs.groupBy("example_id").agg(
        F.sum("n_seg_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("pos_in_example"), F.col("seg_text"))
                    )
                ),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("text"),
    )


def assemble_examples_sql(budget: int = 128, source: str = "documents") -> str:
    """DuckDB twin: ordered string_agg over the packing twin."""
    return f"""
SELECT example_id,
       cast(sum(n_seg_tokens) AS BIGINT) AS n_tokens,
       cast(count(*) AS BIGINT) AS n_docs,
       string_agg(seg_text, ' ' ORDER BY pos_in_example) AS text
FROM ({pack_sequences_sql(budget, source)}) p
GROUP BY example_id
"""
