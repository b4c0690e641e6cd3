"""Cleaning & derivation expressions — SURVEY §2.2 (P1-P16) / §2.8.

The reference does these eagerly in pandas (`etl/order_info_etl.py:31-65,
182-242`); here each is a lazy Column expression so the whole cleaning
stage is ONE Catalyst projection fused into the scan — at 100 TB that
means zero extra passes over the data.

Reference parity notes are cited per function (file:line of the
reference behavior being reproduced).
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# P1 — column-name normalization (reference etl/order_info_etl.py:31-35)
# ---------------------------------------------------------------------------


def normalize_colname(name: str) -> str:
    """strip, then drop BOM (anywhere), each space/hyphen -> one underscore.

    Matches the reference exactly, INCLUDING operation order:
    ``.strip().replace('\\ufeff','')`` then per-character replacement
    (reference etl/order_info_etl.py:31-35). Order matters:
    '\\ufeff name' strips to itself (U+FEFF is not str.strip
    whitespace), loses the BOM, and keeps its now-leading space →
    '_name'. 'Urgent  Orders' becomes 'Urgent__Orders' (two
    underscores), not 'Urgent_Orders'.
    """
    n = name.strip().replace("﻿", "")
    n = re.sub(r"[ \-]", "_", n)
    return n


def normalize_columns(df: DataFrame) -> DataFrame:
    """Apply normalize_colname to every column (driver-side rename only)."""
    return df.toDF(*[normalize_colname(c) for c in df.columns])


# ---------------------------------------------------------------------------
# P4 — timestamp parse with fallback, malformed -> NULL
# (reference etl/order_info_etl.py:37-46 — pd.to_datetime(errors="coerce"))
# ---------------------------------------------------------------------------


def parse_timestamp(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """Try the explicit format first, then lenient inference; NULL on failure.

    Pre-strips tabs/CR/LF/spaces like the reference's
    ``str.strip("\\t\\r\\n ")`` (etl/order_info_etl.py:42-44).
    """
    cleaned = F.nullif(clean_whitespace(col), F.lit(""))
    return F.coalesce(
        F.try_to_timestamp(cleaned, F.lit(fmt)),
        F.try_to_timestamp(cleaned),
    )


# ---------------------------------------------------------------------------
# P5 — regex numeric extraction: "8.9523ft³" -> 8.9523
# (reference etl/order_info_etl.py:48-50)
# ---------------------------------------------------------------------------

_NUM_RE = r"([0-9]+(?:\.[0-9]+)?)"


def strip_units_to_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    extracted = F.regexp_extract(c, _NUM_RE, 1)
    return F.nullif(extracted, F.lit("")).cast(T.DoubleType())


# ---------------------------------------------------------------------------
# P6 — state-code validation: trim+upper, keep ^[A-Z]{2}$ else NULL
# (reference etl/order_info_etl.py:52-54,209-216)
# ---------------------------------------------------------------------------


def valid_state_code(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    up = F.upper(F.trim(c))
    return F.when(up.rlike("^[A-Z]{2}$"), up)


# ---------------------------------------------------------------------------
# P7 — numeric coercion with default (goodsNumber -> int else 1)
# (reference etl/order_info_etl.py:218-221)
# ---------------------------------------------------------------------------


def int_with_default(col: Column | str, default: int = 1) -> Column:
    # Coerce via double first so decimal-formatted strings ('3.0', '3.5'
    # — common in Excel exports) land as ints like the reference's
    # pd.to_numeric(...).fillna(default).astype(int), instead of NULLing
    # out under a direct int try_cast (reference etl/order_info_etl.py:218-221).
    # try_cast on BOTH steps: 'NaN' / '1e10' must fall to the default,
    # not raise under ANSI mode. (Spark truncates toward zero on the
    # double→int step; the DuckDB twin must trunc() explicitly — DuckDB
    # rounds. oracles.py parity rules.) Documented divergence: values
    # outside int32 become the default here, while the reference's
    # pandas astype(int) would carry an int64 that SQL Server's INT
    # column then rejects at insert — lenient-default beats load error.
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        c.try_cast(T.DoubleType()).try_cast(T.IntegerType()), F.lit(default)
    )


# ---------------------------------------------------------------------------
# P8 — ensure expected columns exist (NULL-typed when absent)
# (reference etl/order_info_etl.py:223-225,327-329)
# ---------------------------------------------------------------------------


def ensure_columns(df: DataFrame, schema: Mapping[str, T.DataType]) -> DataFrame:
    missing = {
        name: F.lit(None).cast(dtype)
        for name, dtype in schema.items()
        if name not in df.columns
    }
    return df.withColumns(missing) if missing else df


# ---------------------------------------------------------------------------
# P10 — blank-as-null + product-key coalesce
# (reference etl/order_info_etl.py:234-242)
# ---------------------------------------------------------------------------


def blank_as_null(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def coalesce_product_key(master_sku: Column | str, sku: Column | str) -> Column:
    return F.coalesce(blank_as_null(master_sku), blank_as_null(sku))


# ---------------------------------------------------------------------------
# P11 — string truncation to declared VARCHAR widths
# (reference etl/order_info_etl.py:331-348)
# ---------------------------------------------------------------------------


def truncate_to_widths(df: DataFrame, widths: Mapping[str, int]) -> DataFrame:
    updates = {
        name: F.substring(F.col(name), 1, n)
        for name, n in widths.items()
        if name in df.columns
    }
    return df.withColumns(updates) if updates else df


# ---------------------------------------------------------------------------
# P12 — whitespace cleanup (rstrip tab/cr/lf/space + lstrip)
# (reference etl/order_info_etl.py:196; product_info_etl.py:308-311)
# ---------------------------------------------------------------------------


def clean_whitespace(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"^[\t\r\n ]+|[\t\r\n ]+$", "")


# ---------------------------------------------------------------------------
# P3 — fuzzy column auto-map (reference etl/product_info_etl.py:192-202,260-278)
# ---------------------------------------------------------------------------

#: case-insensitive exact-name aliases (reference :194-202)
DEFAULT_EXACT_ALIASES: Mapping[str, str] = {
    "mainskucode": "masterSku",
    "second_sku": "sku",
}

#: substring discovery: target <- first column containing ALL substrings
#: (reference :267-275 — english/chinese name, customer code)
DEFAULT_CONTAINS_RULES: Mapping[str, tuple[str, ...]] = {
    "english_name": ("english", "name"),
    "chinese_name": ("chinese", "name"),
    "customer_code": ("customer", "code"),
}


def auto_map_columns(
    df: DataFrame,
    exact: Mapping[str, str] = DEFAULT_EXACT_ALIASES,
    contains: Mapping[str, tuple[str, ...]] = DEFAULT_CONTAINS_RULES,
) -> tuple[DataFrame, dict[str, str | None]]:
    """Driver-side schema discovery: alias known column variants.

    Two passes, mirroring the reference exactly:

    1. case-insensitive *exact* aliases (``mainSkuCode`` → ``masterSku``)
       — applied only when the target is not already present;
    2. *substring* discovery (first column whose lowered name contains
       all the rule's substrings wins, in ``df.columns`` order).

    Returns ``(df_with_aliases, mapping)`` where ``mapping`` records
    target → source column (or None if undiscovered). Pure plan-level
    renames — no data movement.
    """
    cols_lower = {c.lower(): c for c in df.columns}
    mapping: dict[str, str | None] = {}
    out = df
    for lname, target in exact.items():
        if lname in cols_lower and target not in out.columns:
            out = out.withColumn(target, F.col(cols_lower[lname]))
            mapping[target] = cols_lower[lname]
    for target, needles in contains.items():
        found = None
        for c in df.columns:
            cl = c.lower()
            if all(n in cl for n in needles):
                found = c
                break
        mapping[target] = found
        if found is not None and target not in out.columns:
            out = out.withColumn(target, F.col(found))
    return out, mapping
