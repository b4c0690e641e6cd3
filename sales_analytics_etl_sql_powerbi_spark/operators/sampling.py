"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` and ``rand()`` are nondeterministic under task retry
and re-partitioning — poison for reproducible corpus builds. Every
operator here derives its randomness from md5 of a KEY COLUMN, so:

- the same row lands in the same sample/split on every run, every
  engine, every partitioning (content-addressed, not position-based);
- adding/removing other rows never perturbs a row's assignment
  (unlike sortBy-then-limit sampling);
- everything is exact integer arithmetic — the DuckDB twins hash-match
  bit-for-bit.

All three are single-pass projections or one windowed shuffle — no
collect, no rand(), 100-TB-shaped by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "deterministic_sample",
    "split_assign",
    "sample_per_group",
    "stratified_mix",
    "token_budget_mix",
    "token_budget_mix_sql",
    "sampling_profile",
    "training_shards",
    "weighted_sample",
    "weighted_sample_sql",
    "split_assign_sql",
    "sampling_profile_sql",
]

#: bucket space — 1e6 buckets gives 1e-6 rate granularity
_BUCKETS = 1_000_000

_H63_DUCK = (
    "cast(('0x' || substring(md5({s}), 1, 16))::UBIGINT"
    " % 9223372036854775808::UBIGINT as BIGINT)"
)


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """Uniform bucket in [0, 1e6) from md5(salt ∥ key) — the shared
    randomness source (salt decorrelates independent samples)."""
    c = F.col(key) if isinstance(key, str) else key
    s = F.concat(F.lit(salt), c.cast("string"))
    # the two substring halves of one md5 call are CSE'd in codegen;
    # this expression appears once per operator, so no hoisting needed
    return (
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(0x7FFFFFFF))
        * F.lit(4294967296)
        + F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long")
    ) % F.lit(_BUCKETS)


def _bucket_duck(key_expr: str, salt: str = "") -> str:
    s = f"'{salt}' || cast({key_expr} AS VARCHAR)"
    return f"({_H63_DUCK.format(s=s)}) % {_BUCKETS}"


def deterministic_sample(
    df: DataFrame, key: str, rate: float, salt: str = "s1"
) -> DataFrame:
    """Content-addressed Bernoulli sample: keep rows whose hash bucket
    falls under ``rate`` — reproducible across runs/engines/partitions.
    One fused filter on the scan; expected |out| = rate·N.
    """
    threshold = int(rate * _BUCKETS)
    return df.where(hash_bucket(key, salt) < threshold)


def split_assign(
    df: DataFrame,
    key: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    col_name: str = "split",
) -> DataFrame:
    """Stable train/val/test assignment from the key hash.

    Splits are cumulative bucket ranges in dict order; a row's split
    never changes as the corpus grows (content-addressed). Weights must
    sum to ~1; the last split absorbs rounding remainder.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = hash_bucket(key, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        bound = int(acc * _BUCKETS)
        expr = (
            F.when(b < bound, F.lit(name))
            if expr is None
            else expr.when(b < bound, F.lit(name))
        )
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(col_name, expr)


def split_assign_sql(
    source: str,
    key_expr: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    col_name: str = "split",
) -> str:
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = _bucket_duck(key_expr, salt)
    names = list(weights)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += weights[name]
        whens.append(f"WHEN {b} < {int(acc * _BUCKETS)} THEN '{name}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
    return f"SELECT *, {case} AS {col_name} FROM {source}"


def sample_per_group(
    df: DataFrame, group: str, key: str, n: int, salt: str = "grp"
) -> DataFrame:
    """Deterministic quota sample: up to ``n`` rows per group, chosen
    by hash order (not arrival order). One windowed shuffle on the
    group key; the hash ordering makes the quota stable as data grows
    EXCEPT at the quota boundary (a new row can displace the old n-th —
    inherent to any fixed-quota scheme).
    """
    w = Window.partitionBy(group).orderBy(
        hash_bucket(key, salt).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def sampling_profile(
    df: DataFrame,
    key: str,
    group: str,
    rate: float = 0.25,
    n_per_group: int = 20,
    weights: dict[str, float] | None = None,
    mix_quotas: dict[str, int] | None = None,
    weighted_n: int | None = None,
    weight_col: str | None = None,
    token_quotas: dict[str, int] | None = None,
    token_weight_col: str | None = None,
) -> DataFrame:
    """All the sampling assignments as FLAG COLUMNS on every row:
    ``split`` (train/val/test), ``in_sample`` (Bernoulli at ``rate``),
    ``in_group_quota`` (within the first ``n_per_group`` of its group
    by hash order). The decision surface a corpus-build audit wants —
    who would each sampler pick — without materializing three separate
    outputs. One projection + one windowed shuffle on the group key;
    the flag semantics are exactly :func:`deterministic_sample` /
    :func:`split_assign` / :func:`sample_per_group` (same salts, same
    buckets — filtering on a flag reproduces the operator's output
    row-for-row). ``mix_quotas`` adds ``in_mix`` — the
    :func:`stratified_mix` membership (per-group target counts, salt
    "mix"; groups absent from the map are all-false), same flag
    discipline. ``weighted_n`` (+ ``weight_col``) adds
    ``in_weighted`` — membership in :func:`weighted_sample`'s top-n,
    flagged via a broadcast semi-join against the (n-row-bounded)
    winner set rather than a global rank window, so the corpus never
    globally sorts. ``token_quotas`` (+ ``token_weight_col``) adds
    ``in_token_budget`` — :func:`token_budget_mix` membership
    (per-group TOKEN budgets over the bucketed per-group prefix sum,
    salt "tok").
    """
    threshold = int(rate * _BUCKETS)
    d = split_assign(df, key, weights).withColumn(
        "in_sample", hash_bucket(key, "s1") < threshold
    )
    w = Window.partitionBy(group).orderBy(
        hash_bucket(key, "grp").asc(), F.col(key).asc()
    )
    d = d.withColumn(
        "in_group_quota", F.row_number().over(w) <= n_per_group
    )
    if mix_quotas is not None:
        wm = Window.partitionBy(group).orderBy(
            hash_bucket(key, "mix").asc(), F.col(key).asc()
        )
        quota = F.coalesce(
            *[
                F.when(F.col(group) == g, F.lit(int(n)))
                for g, n in mix_quotas.items()
            ],
            F.lit(0),
        )
        d = d.withColumn("in_mix", F.row_number().over(wm) <= quota)
    if weighted_n is not None:
        if weight_col is None:
            raise ValueError("weighted_n requires weight_col")
        top = weighted_sample(df, key, weight_col, weighted_n).select(
            F.col(key).alias("__wk")
        )
        d = (
            d.join(F.broadcast(top), d[key] == F.col("__wk"), "left")
            .withColumn("in_weighted", F.col("__wk").isNotNull())
            .drop("__wk")
        )
    if token_quotas is not None:
        if token_weight_col is None:
            raise ValueError("token_quotas requires token_weight_col")
        d = token_budget_mix(
            d, group, token_quotas, token_weight_col, key=key
        )
    return d


def sampling_profile_sql(
    source: str,
    key_expr: str,
    group: str,
    rate: float = 0.25,
    n_per_group: int = 20,
    weights: dict[str, float] | None = None,
    mix_quotas: dict[str, int] | None = None,
    weighted_n: int | None = None,
    weight_expr: str | None = None,
    token_quotas: dict[str, int] | None = None,
    token_weight_expr: str | None = None,
) -> str:
    threshold = int(rate * _BUCKETS)
    inner = split_assign_sql(source, key_expr, weights)
    b_sample = _bucket_duck(key_expr, "s1")
    b_grp = _bucket_duck(key_expr, "grp")
    weighted_select = ""
    if weighted_n is not None:
        if weight_expr is None:
            raise ValueError("weighted_n requires weight_expr")
        u = f"(({_bucket_duck(key_expr, 'w1')}) + 0.5) / {float(_BUCKETS)}"
        weighted_select = f""",
       {key_expr} IN (
         SELECT {key_expr} FROM {source}
         WHERE cast({weight_expr} AS DOUBLE) > 0
         ORDER BY ln({u}) / cast({weight_expr} AS DOUBLE) DESC, {key_expr} ASC
         LIMIT {weighted_n}
       ) AS in_weighted"""
    mix_select = ""
    mix_rn = ""
    if mix_quotas is not None:
        b_mix = _bucket_duck(key_expr, "mix")
        cases = " ".join(
            "WHEN {} = '{}' THEN {}".format(group, str(g).replace("'", "''"), int(n))
            for g, n in mix_quotas.items()
        )
        mix_select = f", __mrn <= (CASE {cases} ELSE 0 END) AS in_mix"
        mix_rn = f""",
         row_number() OVER (
           PARTITION BY {group} ORDER BY {b_mix} ASC, {key_expr} ASC) AS __mrn"""
    base = f"""
SELECT * EXCLUDE (__rn{", __mrn" if mix_quotas is not None else ""}),
       __rn <= {n_per_group} AS in_group_quota{mix_select}{weighted_select}
FROM (
  SELECT *, {b_sample} < {threshold} AS in_sample,
         row_number() OVER (
           PARTITION BY {group} ORDER BY {b_grp} ASC, {key_expr} ASC) AS __rn{mix_rn}
  FROM ({inner}) s
) r
"""
    if token_quotas is not None:
        if token_weight_expr is None:
            raise ValueError("token_quotas requires token_weight_expr")
        return token_budget_mix_sql(
            f"({base})", group, token_quotas, token_weight_expr, key_expr
        )
    return base


def training_shards(
    df: DataFrame, n_shards: int, key: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` even shards.

    The export step before training: examples must be (a) spread
    evenly across shard files, (b) in pseudorandom order within each
    shard (no residual source ordering — a corpus sorted by crawl date
    trains worse), and (c) EXACTLY reproducible across reruns, retries
    and input repartitioning. All three come from the one
    content-addressed hash this module already uses: shard =
    md5-bucket(key) mod n_shards, within-shard order = a second,
    salt-decorrelated hash of the same key. No ``rand()``, no
    ``monotonically_increasing_id`` — partition layout never leaks in.

    Returns the frame with ``shard`` (int) and ``__ord`` (the order
    hash) columns.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return df.withColumn(
        "shard", (hash_bucket(key, salt) % F.lit(n_shards)).cast("int")
    ).withColumn("__ord", hash_bucket(key, salt + "#ord"))


def stratified_mix(
    df: DataFrame,
    group: str,
    quotas: dict[str, int],
    key: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic training-mix construction: per-group TARGET counts.

    The generalization of :func:`sample_per_group` from one fixed n to
    a per-group quota map — how a pre-training mix is actually built
    ("200k docs of lang=en, 50k of lang=fr, drop the rest"). Selection
    is hash-rank order (content-addressed, retry/repartition-stable);
    groups absent from ``quotas`` are dropped; groups smaller than
    their quota keep everything (the mix designer sees the shortfall in
    the output counts, nothing silently refills it).

    Scale: ONE windowed shuffle on the group column + a broadcast join
    against the (tiny, driver-literal) quota table. Same
    quota-boundary caveat as sample_per_group: growth can displace the
    marginal row — inherent to any fixed-count scheme.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(g, int(n)) for g, n in quotas.items()],
        StructType(
            [
                StructField(group, df.schema[group].dataType),
                StructField("__quota", IntegerType()),
            ]
        ),
    )
    w = Window.partitionBy(group).orderBy(
        hash_bucket(key, salt).asc(), F.col(key).asc()
    )
    return (
        df.join(F.broadcast(qdf), group)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )


def token_budget_mix(
    df: DataFrame,
    group: str,
    quotas: dict[str, int],
    weight_col: str,
    key: str = "doc_id",
    salt: str = "tok",
    num_buckets: int = 64,
) -> DataFrame:
    """Per-group TOKEN-budget selection — the actual pre-training
    mixture primitive ("200M tokens of lang=en, 50M of lang=fr"),
    where :func:`stratified_mix` counts DOCUMENTS. Adds
    ``in_token_budget``: true for the hash-order prefix of each group
    whose inclusive running ``weight_col`` sum stays ≤ the group's
    quota (the straddling document and everything after it are out —
    prefix semantics, so the kept set never overshoots). Groups
    absent from ``quotas`` are all-false; shortfall groups keep
    everything, visibly.

    Scale: a per-group running sum is the same single-partition trap
    as the packing prefix sum, ONE PARTITION PER GROUP — fatal when a
    corpus is 80% one language. Same cure as
    :func:`..packing.global_prefix_sum`: the hash itself is the
    bucketing domain (uniform in [0, 1e6) by construction — no
    min/max pass needed), so each group splits into ``num_buckets``
    hash ranges scanned in parallel, bucket totals (groups ×
    num_buckets rows — driver-tiny) get a per-group exclusive scan,
    and a broadcast join stitches the global inclusive sum back.
    Deterministic: buckets derive from the data (never
    ``spark_partition_id``), order is (hash, key).
    """
    from .packing import bucketed_exclusive_scan

    width = (_BUCKETS - 1) // num_buckets + 1
    d = (
        df.withColumn("__h", hash_bucket(key, salt))
        .withColumn("__bkt", F.expr(f"__h DIV {width}"))
        .withColumn("__w", F.col(weight_col).cast("long"))
    )
    d = bucketed_exclusive_scan(
        d, ["__h", key], "__w", partition_cols=[group], out_col="__toff"
    )
    # absent-from-quotas groups get a NULL quota, NOT 0 (round 14 —
    # found by the property fuzz): with the old ELSE-0 a ZERO-WEIGHT
    # document at the head of an absent group's hash order satisfied
    # run(0) <= 0 and came back True, violating the documented
    # "absent groups are all-false" rule (invisible under all-positive
    # weights, which is all the gates carried). NULL quota -> NULL
    # comparison -> coalesce(False) = unconditionally out.
    quota = F.coalesce(
        *[
            F.when(F.col(group) == g, F.lit(int(n)))
            for g, n in quotas.items()
        ],
        F.lit(None),
    ).cast("long")
    # inclusive running sum = exclusive offset + own weight; NULL-group
    # rows accumulate across buckets like any other group (the scan's
    # stitch join is null-safe) and fall to the NULL quota, matching
    # the oracle twin's PARTITION BY window, which also groups NULLs
    return d.withColumn(
        "in_token_budget",
        F.coalesce((F.col("__toff") + F.col("__w")) <= quota, F.lit(False)),
    ).drop("__h", "__bkt", "__w", "__toff")


def token_budget_mix_sql(
    source: str,
    group: str,
    quotas: dict[str, int],
    weight_expr: str,
    key_expr: str = "doc_id",
    salt: str = "tok",
) -> str:
    """DuckDB twin: plain per-group window running sum in the same
    (hash, key) order — the single-window shape the distributed
    version deliberately avoids (fine at oracle scale; the hash gates
    the bucketed scan's exactness)."""
    b = _bucket_duck(key_expr, salt)
    cases = " ".join(
        "WHEN {} = '{}' THEN {}".format(group, str(g).replace("'", "''"), int(n))
        for g, n in quotas.items()
    )
    # empty quota map: every group falls to the ELSE arm — a bare CASE
    # with no WHENs is a syntax error (hypothesis twin-parity find).
    # ELSE NULL, not 0 (round 14): absent groups must be all-false
    # even for zero-weight rows — same fix as the Spark side
    quota_expr = f"(CASE {cases} ELSE NULL END)" if cases else "NULL"
    return f"""
SELECT * EXCLUDE (__tcum),
       COALESCE(__tcum <= {quota_expr}, FALSE) AS in_token_budget
FROM (
  SELECT *, cast(sum(cast({weight_expr} AS BIGINT)) OVER (
           PARTITION BY {group} ORDER BY {b} ASC, {key_expr} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS __tcum
  FROM ({source}) tb
) t
"""


def weighted_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    n: int,
    salt: str = "w1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (top-n).

    Efraimidis–Spirakis A-ES: each row scores
    ``ln(u) / w`` with ``u`` the content-addressed uniform from
    :func:`hash_bucket` (same md5 source as every sampler here — no
    ``rand()``), and the n LARGEST scores win; that is exactly
    weighted sampling without replacement with inclusion probability
    proportional to weight. Deterministic across reruns, retries and
    repartitioning; rows with NULL or non-positive weight are
    excluded (a zero-weight row must never be sampled, and A-ES is
    undefined for them).

    Scale shape: one scan-side projection + a global top-n
    (TakeOrderedAndProject — per-partition heaps, no full sort). Ties
    (astronomically unlikely with distinct keys) break by key.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    w = F.col(weight_col).cast("double")
    u = (hash_bucket(key, salt).cast("double") + F.lit(0.5)) / F.lit(
        float(_BUCKETS)
    )
    score = F.log(u) / w
    # NaN weights must be excluded explicitly: Spark orders NaN LARGER
    # than any double, so `w > 0` ADMITS NaN and the NaN score would
    # sort first under desc, consuming top-n slots — the opposite of
    # the documented invalid-weight exclusion
    return (
        df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .withColumn("__es_score", score)
        .orderBy(F.desc("__es_score"), F.asc(key))
        .limit(n)
        .drop("__es_score")
    )


def weighted_sample_sql(
    key: str,
    weight_col: str,
    n: int,
    salt: str = "w1",
    source: str = "documents",
    columns: str = "*",
) -> str:
    """DuckDB twin of :func:`weighted_sample` (identical hash → same
    u; ln/divide in binary64 on both engines)."""
    u = f"(({_bucket_duck(key, salt)}) + 0.5) / {float(_BUCKETS)}"
    return f"""
SELECT {columns} FROM {source}
WHERE {weight_col} IS NOT NULL AND NOT isnan(cast({weight_col} AS DOUBLE))
  AND cast({weight_col} AS DOUBLE) > 0
ORDER BY ln({u}) / cast({weight_col} AS DOUBLE) DESC, {key} ASC
LIMIT {n}
"""
