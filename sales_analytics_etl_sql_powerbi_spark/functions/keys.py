"""Surrogate keys — SURVEY §2.2 P9 / §2.10 U1.

The reference's only custom row function is ``stable_customer_id``:
``int(md5('|'.join(parts)).hexdigest()[:16], 16) & (2**63 - 1)``
(reference etl/order_info_etl.py:56-65). It is reproduced here THREE
ways, all bit-exact with each other (parity test: tests/test_keys.py):

1. :func:`stable_id_expr` — native Catalyst expression (the production
   path: whole-stage codegen, no Python in the executors);
2. :func:`stable_id_sql` — the same computation as DuckDB SQL text
   for the correctness oracle;
3. :func:`stable_id_pandas_udf` — an Arrow-vectorized pandas_udf that is
   a literal transcription of the reference function, kept as the
   parity witness.

IDENTITY(1,1) surrogate ids (dim_platform/dim_product/fact — reference
sql/schema/dim_platform.Table.sql:27) are replaced by a deterministic
dense ``row_number() OVER (ORDER BY business_key)`` — NOT
``monotonically_increasing_id`` which changes across runs/partitionings.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK_63 = 2**63  # value & (2**63-1)  ==  value mod 2**63


def _concat_key(cols: list[Column | str], sep: str = "|") -> Column:
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    # The reference builds the key with f"{name}|{addr}|{postal}"
    # (etl/order_info_etl.py:60) on pandas values, where a missing value
    # stringifies to 'None'/'nan' — an accident of pandas, not a design
    # choice. We deliberately normalize NULL -> '' instead (documented
    # divergence; identical results on rows where all parts are present).
    cs = [F.coalesce(c.cast("string"), F.lit("")) for c in cs]
    return F.concat_ws(sep, *cs)


def stable_id_expr(cols: list[Column | str], sep: str = "|") -> Column:
    """63-bit md5 surrogate key as a native Catalyst expression.

    The 16 hex chars split into two 32-bit halves parsed with conv();
    ``(hi & 0x7FFFFFFF) * 2^32 + lo`` equals ``int(hex,16) & (2^63-1)``
    exactly (dropping bit 63 == masking hi's bit 31) and stays in pure
    LongType arithmetic — no 20-digit decimal in the hot path (~30%
    faster than the conv-to-decimal + pmod formulation at sf0.1;
    bit-parity pinned by tests/test_keys.py against the reference
    Python and DuckDB).
    """
    h = F.md5(_concat_key(cols, sep))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast(T.LongType())
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast(T.LongType())
    return hi.bitwiseAND(F.lit(0x7FFFFFFF)) * F.lit(4294967296) + lo


def stable_id_sql(col_exprs: list[str], sep: str = "|") -> str:
    """Same key as DuckDB SQL text (for the correctness oracle)."""
    parts = ", ".join(f"coalesce(cast({e} as varchar), '')" for e in col_exprs)
    concat = f"concat_ws('{sep}', {parts})"
    return (
        f"(('0x' || substring(md5({concat}), 1, 16))::UBIGINT "
        f"% {_MASK_63}::UBIGINT)::BIGINT"
    )


def stable_id_pandas_udf() -> Column:
    """Literal transcription of the reference function, Arrow-vectorized.

    Kept as the parity witness for stable_id_expr (see tests); the
    native expression is the production path.
    """
    def _stable_id(key):  # pd.Series -> pd.Series
        def one(s: str | None) -> int:
            s = s if s is not None else ""
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16) & (
                2**63 - 1
            )

        return key.map(one)

    return F.pandas_udf(_stable_id, T.LongType())


def dense_surrogate_id(order_by: list[Column | str]) -> Column:
    """Deterministic IDENTITY(1,1) replacement.

    A single-partition window is fine because it is only ever applied to
    DIMENSION tables (platforms, products, dates — thousands to millions
    of rows), never the fact. For a dimension too big for one task, use
    :func:`with_dense_id` — the range-partitioned zipWithIndex shape
    with identical output (parity test in tests/test_keys.py).
    """
    return F.row_number().over(Window.orderBy(*order_by)).cast(T.IntegerType())


def with_dense_id(
    df,
    order_by: list[str],
    id_col: str = "id",
    num_partitions: int | None = None,
):
    """Scalable IDENTITY(1,1): dense 1-based ids in ``order_by`` order.

    The zipWithIndex shape, relationally: range-partition on the
    ordering key (globally ordered, non-overlapping ranges), number
    rows *within* each partition, then add the cumulative count of all
    earlier partitions (a #partitions-sized frame — broadcast join).
    Two passes over the data, NO single-partition exchange — this is
    the production path for any dimension too big for
    :func:`dense_surrogate_id`'s global window. Identical output when
    the ordering key is unique (ties get arbitrary-but-distinct ids,
    same as the window variant).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    # CHECKPOINT (lineage truncation), not persist, before the counts
    # job: the offsets are only valid for the exact partitioning they
    # were counted on. A persisted frame silently RECOMPUTES on cache
    # eviction/executor loss, and the recompute re-samples
    # repartitionByRange's boundaries — per-partition counts could then
    # shift between the counts job and the numbering job, duplicating or
    # skipping ids. A checkpoint cannot recompute: the numbering job
    # either reads the same materialization the counts came from or
    # fails loudly. Reliable (FS) checkpoint when a checkpointDir is
    # configured — the production setting on a cluster, surviving
    # executor loss — else an eager localCheckpoint.
    ranged = df.repartitionByRange(n, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        ranged = ranged.checkpoint(eager=True)
    else:
        ranged = ranged.localCheckpoint(eager=True)
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, "__pid int, __offset long")
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.join(F.broadcast(off), "__pid")
        .withColumn(
            # LongType: this is the path for dimensions past int32 rows —
            # an int cast would wrap negative at 2^31 and collide ids
            id_col,
            (F.row_number().over(w) + F.col("__offset")).cast(T.LongType()),
        )
        .drop("__pid", "__offset")
    )
