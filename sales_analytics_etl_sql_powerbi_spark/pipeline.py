"""Star-schema pipeline over the driver testdata — the engine end-to-end.

Maps the TPC-H-ish testdata onto the reference's star schema
(reference README.md:41-56: staging → dims → fact → reporting view):

- ``lineitem ⋈ orders ⋈ customer ⋈ nation`` plays the raw order export
  (stg_order_export_raw — one row per order line,
  reference sql/schema/stg_order_export_raw.Table.sql:28-75);
- ``part`` plays the product master (stg_product_master);
- ``o_orderpriority`` plays the commerce platform (5 values ≈ the
  reference's 6 platforms);
- the customer's nation synthesizes a 2-letter ``state_code`` — with
  deterministic noise (lowercase/padded/invalid variants) so the
  cleaning operators (P6) do real work;
- ``units`` arrives as a string with deterministic malformed values so
  P7's default path is exercised;
- the product key arrives as master/alt SKU pairs with NULL/blank gaps
  so P10's coalesce discipline is exercised.

Every derivation here has an exact SQL twin in :mod:`.oracles` — the
DuckDB correctness oracle runs the same logic from the same parquet.

Scale notes (the point of the exercise):
- staging is ONE projection fused into the lineitem scan — no
  extra pass, no Python;
- dims are distinct-reduced then broadcast at every join site; the
  fact build shuffles nothing (broadcast-hash joins against the
  lineitem-sized side);
- the fact table, if persisted, partitions by ``date_id``
  (write_overwrite(partition_by=['date_id'])) for partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .functions.cleaning import (
    coalesce_product_key,
    ensure_columns,
    int_with_default,
    parse_timestamp,
    strip_units_to_double,
    truncate_to_widths,
    valid_state_code,
)
from .functions.dates import calendar_frame
from .functions.keys import dense_surrogate_id, stable_id_expr, with_dense_id
from .operators.rules import (
    TESTDATA_CATEGORY_PASSES,
    TESTDATA_SUBCATEGORY_PASSES,
    apply_passes,
)
from .sources.readers import parquet_footer, read_table

__all__ = [
    "staging_orders",
    "bounded_dim_seed",
    "dim_platform_from_seed",
    "build_dim_platform",
    "build_dim_product",
    "build_dim_customer",
    "build_dim_date",
    "build_fact",
    "sales_product_geo_view",
    "star",
]


def staging_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw order-export staging frame (stg_order_export_raw analog).

    One row per lineitem; all cleaning/derivation operators (P4-P10)
    applied as a single fused projection. SQL twin:
    :data:`..oracles.STAGING_SQL`.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    # Join-strategy discipline: nation is bounded by construction
    # (≤ dozens of rows) — force-broadcast it. orders/customer are
    # DATA-SCALED (1:4 / 1:10 of lineitem at every SF): at test scale
    # Catalyst broadcasts them anyway (under the 64 MB threshold), but
    # a forced broadcast() hint would OOM a 100-TB deployment where
    # orders is terabytes — so let Catalyst/AQE pick from size stats,
    # degrading to shuffle joins exactly when the data demands it. At
    # that scale the shuffle is removed by co-locating the tables:
    # write lineitem+orders bucketed on the order key
    # (sinks.write_bucketed) and the join needs no exchange at all.
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )

    # -- deterministic synthetic "dirt" so cleaning ops do real work --
    base_state = F.concat(
        F.expr("char(65 + n_nationkey % 26)"),
        F.expr("char(65 + (n_nationkey * 7) % 26)"),
    )
    raw_state = (
        F.when(F.col("n_nationkey") % 13 == 5, F.lit("XYZ"))
        .when(
            F.col("n_nationkey") % 11 == 7,
            F.concat(F.lit(" "), F.lower(base_state), F.lit(" ")),
        )
        .otherwise(base_state)
    )
    units_raw = F.when(F.col("l_linenumber") % 37 == 0, F.lit("x")).otherwise(
        F.floor(F.col("l_quantity")).cast("int").cast("string")
    )
    master_sku = (
        F.when(F.col("l_partkey") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("l_partkey") % 11 == 0, F.lit("  "))
        .otherwise(F.concat(F.lit("SKU-"), F.col("l_partkey").cast("string")))
    )
    alt_sku = F.concat(F.lit("ALT-"), F.col("l_partkey").cast("string"))
    customer_name = F.col("c_name")
    address = F.concat(F.lit("ADDR-"), F.col("c_custkey").cast("string"))
    postal = F.lpad((F.col("c_custkey") % 100000).cast("string"), 5, "0")
    volume_raw = F.concat(
        F.floor(F.col("l_quantity")).cast("int").cast("string"), F.lit(".5ft³")
    )

    return joined.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("o_orderpriority").alias("platform_name"),
        F.col("o_orderdate").alias("submit_ts"),
        F.col("l_shipdate").alias("ship_ts"),
        units_raw.alias("units_raw"),
        int_with_default(units_raw, 1).alias("units"),
        master_sku.alias("master_sku"),
        alt_sku.alias("alt_sku"),
        coalesce_product_key(master_sku, alt_sku).alias("product_key"),
        raw_state.alias("raw_state"),
        valid_state_code(raw_state).alias("state_code"),
        customer_name.alias("customer_name"),
        address.alias("address"),
        postal.alias("postal_code"),
        stable_id_expr([customer_name, address, postal]).alias("customer_id"),
        volume_raw.alias("volume_raw"),
        strip_units_to_double(volume_raw).alias("volume_num"),
        F.lit("0.00").cast(T.DecimalType(18, 2)).alias("revenue"),
    )


def clean_order_export(raw: DataFrame) -> DataFrame:
    """Typed staging frame from a raw all-string CSV order export.

    The reference's CSV front door end-to-end (etl/order_info_etl.py:176,
    182-242): header normalization happened in the reader (P1); here the
    fuzzy column auto-map discovers the export's SKU alias headers
    (``mainSkuCode``/``Second SKU`` → masterSku/sku — P2/P3, reference
    product_info_etl.py:192-202), then the value stack — ensure-columns
    for the optional discount code (P8), width truncation (P11),
    timestamp parse with fallback-to-NULL (P4), int coercion with
    default (P7), SKU coalesce with blank-as-null (P10), state
    validation (P6) — all as ONE fused projection over the distributed
    CSV scan. SQL twin: :func:`..oracles.csv_roundtrip_sql`.
    """
    from .functions.cleaning import auto_map_columns

    raw, _colmap = auto_map_columns(raw)
    raw = ensure_columns(raw, {"Discount_Code": T.StringType()})
    raw = truncate_to_widths(raw, {"Notes": 30})
    return raw.select(
        # try_cast (round 16, found by the ingest split fuzz): under
        # ANSI a single malformed id in a partner feed killed the whole
        # scan (batch AND stream) with CAST_INVALID_INPUT — the
        # poison-row class. The reference never even types these
        # (order_id VARCHAR(100), etl/order_info_etl.py:397); the typed
        # staging contract here degrades a malformed id to NULL, the
        # same never-matches convention as every other guard.
        F.col("Order_ID").try_cast("int").alias("order_id"),
        F.col("Line_Number").try_cast("int").alias("line_number"),
        parse_timestamp("Submit_Time").alias("submit_ts"),
        int_with_default("Units", 1).alias("units"),
        coalesce_product_key("masterSku", "sku").alias("product_key"),
        valid_state_code("State").alias("state_code"),
        F.col("Notes").alias("notes"),
        F.col("Discount_Code").alias("discount_code"),
    )


def bounded_dim_seed(staging: DataFrame) -> DataFrame:
    """ONE-row reduction seeding BOTH bounded dims from a single
    staging pass: the calendar bounds (min/max submit_ts) and the
    distinct platform set (``array_sort(collect_set(...))`` — a
    handful of values by contract, map-side combinable).

    ``star`` persists this seed, so dim_platform and dim_date each
    derive from one cached row instead of running one full staging
    scan EACH — at 100 TB that is a whole fact-sized pass saved per
    load. Standalone ``build_dim_platform`` / ``build_dim_date`` go
    through the same seed; Catalyst prunes the aggregate columns the
    caller doesn't reference (a platform-only build never computes the
    timestamp min/max and vice versa).
    """
    clean_platform = F.when(
        F.col("platform_name").isNotNull() & (F.col("platform_name") != ""),
        F.col("platform_name"),
    )
    return staging.agg(
        F.min("submit_ts").alias("lo"),
        F.max("submit_ts").alias("hi"),
        F.array_sort(F.collect_set(clean_platform)).alias("platforms"),
    )


def dim_platform_from_seed(seed: DataFrame) -> DataFrame:
    """Platform dim from the bounded seed: ``posexplode`` of the sorted
    distinct set. Ids are position+1 in binary-UTF8 sort order —
    identical to the previous ``row_number() OVER (ORDER BY
    platform_name)`` numbering, with no window and no single-partition
    funnel at all."""
    return seed.select(
        F.posexplode("platforms").alias("pos", "platform_name")
    ).select(
        (F.col("pos") + 1).cast("int").alias("platform_id"),
        "platform_name",
    )


def build_dim_platform(staging: DataFrame) -> DataFrame:
    """DISTINCT platforms + deterministic surrogate id (A1 + IDENTITY).

    Reference etl/order_info_etl.py:410-418. NULL/blank platforms are
    excluded before the distinct; numbering is alphabetical, as before.
    """
    return dim_platform_from_seed(bounded_dim_seed(staging))


#: (applicationId, sf_dir, threshold) → (part's file stamp, numbered
#: product dim). A warehouse materializes each dim once per load (the
#: reference keeps dim_product as a SQL Server table) and this is that
#: contract, on both paths: the scale path ends in an EAGER checkpoint
#: (with_dense_id pins its partitioning), the small path is persist()ed
#: so the scan + rules + numbering window run once at first use instead
#: of once per downstream consumer. A new session or a rewritten part
#: table never sees a stale frame.
_DIM_PRODUCT_CACHE: dict[tuple[str, str, int], tuple[tuple | None, DataFrame]] = {}

#: Above this row count the IDENTITY numbering switches from the global
#: row_number window (one task sorts the whole dim — fine for bounded
#: dims, a straggler for data-sized ones) to the range-partitioned
#: generator. 1M rows of this dim ≈ a few hundred MB through one task —
#: comfortably inside an executor; the same size-based strategy choice
#: Catalyst makes between broadcast and shuffle joins.
DENSE_ID_THRESHOLD = 1_000_000


def build_dim_product(
    spark: SparkSession, sf_dir: str, dense_id_threshold: int | None = None
) -> DataFrame:
    """Product dim from the part master + rules-engine categorization.

    Reference etl/order_info_etl.py:421-429 (insert) +
    sql/transformations/10_*/30_*.sql (rules). product_key mirrors the
    staging-side master/alt SKU synthesis so the fact join closes.

    IDENTITY(1,1) numbering is size-adaptive: a product master at or
    under ``dense_id_threshold`` rows (a cheap parquet-metadata count)
    numbers through one ``row_number()`` window — two fewer jobs and no
    materialization; past the threshold it switches to
    :func:`..functions.keys.with_dense_id`, the range-partitioned
    generator with NO single-partition exchange, so a data-sized master
    numbers in parallel. Both paths produce identical ids (parity
    pinned in tests/test_keys.py and tests/test_plans.py); the plan
    guard pins the scale path's shape with ``dense_id_threshold=0``.

    Memoized per (session, sf_dir, threshold) while the part table's
    files keep their stamp: on the scale path the numbering
    materializes eagerly, and the checkpointed result is
    self-contained, so every later consumer in the session reuses it
    instead of re-running the build.
    """
    threshold = DENSE_ID_THRESHOLD if dense_id_threshold is None else dense_id_threshold
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), threshold)
    footer = parquet_footer(os.path.join(sf_dir, "part.parquet"), spark)
    stamp = footer.stamp if footer is not None else None
    cached = _DIM_PRODUCT_CACHE.get(key)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    part = read_table(spark, sf_dir, "part")
    product_key = F.when(
        (F.col("p_partkey") % 7 == 0) | (F.col("p_partkey") % 11 == 0),
        F.concat(F.lit("ALT-"), F.col("p_partkey").cast("string")),
    ).otherwise(F.concat(F.lit("SKU-"), F.col("p_partkey").cast("string")))
    base = part.select(
        product_key.alias("product_key"),
        F.col("p_name").alias("english_name"),
        F.col("p_name"),
        F.col("p_type"),
        F.col("p_brand"),
        F.col("p_size"),
    )
    categorized = apply_passes(
        base, TESTDATA_CATEGORY_PASSES + TESTDATA_SUBCATEGORY_PASSES
    ).drop("p_name")
    # IDENTITY(1,1), strategy by size (product_key is unique, so the
    # ordering is total and both paths agree row-for-row). The row
    # count comes straight from the parquet footer when the layout is
    # local (zero jobs — r18: a count() through the scan spread would
    # otherwise pay the spread exchange just to read a number the
    # footer already holds); a remote/unreadable layout falls back to
    # the metadata count job.
    n_part = footer.rows if footer is not None else part.count()
    small = n_part <= threshold
    if small:
        numbered = categorized.withColumn(
            "product_id", dense_surrogate_id(["product_key"])
        )
    else:
        numbered = with_dense_id(categorized, ["product_key"], id_col="product_id")
    out = numbered.select(
        F.col("product_id").cast("int").alias("product_id"),
        *[c for c in numbered.columns if c != "product_id"],
    )
    if small:
        # lazy persist (no blocking write — first consumer fills the
        # cache); recompute-on-eviction is safe here because the window
        # numbering over a unique key is deterministic, unlike the
        # scale path where the checkpoint pins the partitioning
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
    _DIM_PRODUCT_CACHE[key] = (stamp, out)
    return out


def build_dim_customer(staging: DataFrame) -> DataFrame:
    """DISTINCT customer attributes keyed by the stable 63-bit id.

    Reference etl/order_info_etl.py:432-440.
    """
    return (
        staging.select(
            "customer_id", "customer_name", "address", "postal_code", "state_code"
        )
        .where(F.col("customer_id").isNotNull())
        .distinct()
    )


def build_dim_date(spark: SparkSession, staging: DataFrame) -> DataFrame:
    """Calendar spanning the fact date range (reference :104-154).

    min/max reduce to one row, then sequence+explode on the executors —
    no driver-side date loop (A5 + F11).
    """
    return calendar_frame(
        spark, F.col("lo"), F.col("hi"), bounds_df=bounded_dim_seed(staging)
    )


def build_fact(
    staging: DataFrame,
    dim_platform: DataFrame,
    dim_product: DataFrame,
    date_source: str = "submit_ts",
) -> DataFrame:
    """Fact load — J1: left dim lookups + FK-not-null filters (⇒ inner).

    Reference etl/order_info_etl.py:463-490. Dims are broadcast; the
    staging (lineitem-scale) side never shuffles. Degenerate dims
    order_id/state_code ride on the fact row
    (reference sql/schema/fact_sales.Table.sql:35,42).

    ``date_source`` mirrors the reference's ``FACT_DATE_SOURCE`` config
    (etl/order_info_etl.py:26) — which timestamp becomes ``date_id``
    (``submit_ts`` default; ``ship_ts`` is the other staging candidate).

    The broadcast hints are explicit because the numbered product dim
    is checkpoint-backed (no size statistics — Catalyst would assume
    worst-case and sort-merge).
    """
    f = (
        staging.join(
            F.broadcast(dim_platform), on="platform_name", how="left"
        ).join(
            F.broadcast(dim_product.select("product_id", "product_key")),
            on="product_key",
            how="left",
        )
        # reference WHERE r.submitTime IS NOT NULL AND r.product_key IS
        # NOT NULL AND dp.platform_id IS NOT NULL AND dpr.product_id IS
        # NOT NULL (etl/order_info_etl.py:484-488)
        .where(
            F.col(date_source).isNotNull()
            & F.col("product_key").isNotNull()
            & F.col("platform_id").isNotNull()
            & F.col("product_id").isNotNull()
        )
    )
    return f.select(
        F.col(date_source).cast("date").alias("date_id"),
        "platform_id",
        "product_id",
        "customer_id",
        "order_id",
        "state_code",
        F.coalesce(F.col("units"), F.lit(1)).alias("units"),
        "revenue",
    )


def sales_product_geo_view(
    fact: DataFrame,
    dim_date: DataFrame,
    dim_product: DataFrame,
    dim_platform: DataFrame,
) -> DataFrame:
    """The denormalized reporting view — J2, the 4-way star join.

    Reference sql/views/vw_sales_product_geo.View.sql:26-57. All three
    dims are broadcast (hinted, as in :func:`build_fact`); the fact
    side streams through one whole-stage codegen pipeline with zero
    shuffles.
    """
    return (
        fact.join(F.broadcast(dim_date), on="date_id")
        .join(
            F.broadcast(
                dim_product.select(
                    "product_id", "product_key", "english_name", "category", "subcategory"
                )
            ),
            on="product_id",
        )
        .join(F.broadcast(dim_platform), on="platform_id")
        .select(
            "date_id",
            "year",
            "month",
            "month_name",
            "day_of_week",
            "day_name",
            "is_weekend",
            "product_key",
            "english_name",
            "category",
            "subcategory",
            "platform_name",
            "state_code",
            "order_id",
            "units",
            "revenue",
        )
    )


#: reporting-view partition sizing: the view is a consumed-many-times
#: surface (persisted by the bench, aggregated by every BI query), so
#: its partition count should follow ITS row count, not the scan
#: spread's core-count fan-out.
VIEW_ROWS_PER_PARTITION = 65536


def _bound_view_partitions(
    spark: SparkSession, sf_dir: str, view: DataFrame
) -> DataFrame:
    """Bound the reporting view's partition count when (and only when)
    the scan spread fanned the star out (round 19 — VERDICT r18
    item 4).

    The round-18 scan spread repartitions a starved single-row-group
    staging scan to the session parallelism; that partitioning flows
    through the broadcast star joins INTO the view, so a persisted
    view was cached in ~32 partitions and every sub-second BI
    aggregate over it scheduled 34–45 tasks where it used to schedule
    5–11 (~0.1 s of task-launch overhead each, the entire round-18 BI
    regression). The fix coalesces the view to ⌈rows/65536⌉ partitions
    (10 at sf0.1) — a NARROW fold, no exchange; the 8-core bench put
    the whole view build at 1.03× the 32-core wall, so the reduced
    build parallelism costs ~nothing while every cached-view consumer
    stops paying the fan-out.

    Scale guard, same condition as ``spread_scan``: when the lineitem
    layout's row-group count reaches the session parallelism (any
    production layout) the spread never fired and the view is
    returned UNCHANGED — this bound cannot fold a real deployment's
    scan parallelism.
    """
    footer = parquet_footer(os.path.join(sf_dir, "lineitem.parquet"), spark)
    if footer is None:
        return view
    rows, groups = footer.rows, footer.row_groups
    parallelism = spark.sparkContext.defaultParallelism
    if groups >= parallelism:
        return view  # production layout — the spread was a no-op
    target = max(1, min(parallelism, rows // VIEW_ROWS_PER_PARTITION + 1))
    return view.coalesce(target)


def star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build the whole star once: staging, 4 dims, fact, reporting view.

    ``staging`` is deliberately NOT persisted: each consumer needs only
    a few of its columns, and Catalyst's column pruning makes the lazy
    recompute cheaper than building a full-width columnar cache
    (measured 3× at sf0.1 — caching materializes every column; pruned
    recompute touches only what each dim/fact actually reads). At
    cluster scale the equivalent choice is writing staging to parquet
    (columnar, pruned reads) rather than executor cache.

    The BOUNDED dims (platform, date — single digits to a few thousand
    rows by construction) both derive from ONE persisted single-row
    seed (:func:`bounded_dim_seed`: calendar bounds + sorted platform
    set). The seed is derived from a full staging scan and the view
    references platform at two join sites — left lazy, every consumer
    would re-run a staging-sized scan per reference; with the fused
    seed, ONE staging pass fills the cache and every dim reference
    explodes the cached row (at 100 TB: one fact-sized pass per load
    where separate per-dim reductions cost two, and lazy dims would
    cost four). Same "dims are tables" contract the reference gets
    from SQL Server. dim_customer stays lazy: it is data-scaled and
    not referenced by the fact/view path at all. dim_product persists
    inside build_dim_product (memoized, size-adaptive).

    Cache lifetime: these persists have no matching unpersist because
    the returned frames are lazy — callers materialize them after
    ``star`` returns. Growth across repeat calls is bounded by
    CacheManager plan-deduplication (same (spark, sf_dir) → identical
    analyzed plans → one shared entry per seed), and the persisted
    seed is ONE row, so worst-case residency is one row per distinct
    sf_dir until session end or LRU eviction. A long-lived service
    embedding this should call ``spark.catalog.clearCache()`` between
    unrelated loads.
    """
    staging = staging_orders(spark, sf_dir)
    seed = bounded_dim_seed(staging).persist(StorageLevel.MEMORY_AND_DISK)
    dim_platform = dim_platform_from_seed(seed)
    dim_product = build_dim_product(spark, sf_dir)
    dim_customer = build_dim_customer(staging)
    dim_date = calendar_frame(spark, F.col("lo"), F.col("hi"), bounds_df=seed)
    fact = build_fact(staging, dim_platform, dim_product)
    view = _bound_view_partitions(
        spark,
        sf_dir,
        sales_product_geo_view(fact, dim_date, dim_product, dim_platform),
    )
    return {
        "staging": staging,
        "dim_platform": dim_platform,
        "dim_product": dim_product,
        "dim_customer": dim_customer,
        "dim_date": dim_date,
        "fact": fact,
        "view": view,
    }
