"""Physical-plan regression guards.

The scale story (PLAN_AUDIT.md) rests on specific plan shapes: the star
is all broadcast joins with no fact-sized shuffle before aggregation,
scans are column-pruned, and no data-sized table funnels through a
single-partition exchange. These tests pin those shapes so a future
refactor that silently degrades the plan (a lost broadcast hint, a
projection that widens the scan) fails loudly here instead of at 100 TB.
"""

import pytest

from sales_analytics_etl_sql_powerbi_spark import pipeline
from sales_analytics_etl_sql_powerbi_spark.operators import analytics


@pytest.fixture(scope="module")
def plan_sf() -> str:
    """Own sf dir: other tests build (and sometimes cache) the star at
    the shared fixture's sf — Spark's CacheManager would then swap an
    InMemoryRelation into these plans and the shape assertions would
    inspect the cached-plan text instead of the live one."""
    return "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _node_depth(line: str) -> int:
    """Depth of a plan-tree line = column of its first content char
    (tree glyphs are drawn with ' ', ':', '+', '-')."""
    for i, ch in enumerate(line):
        if ch not in " :+-":
            return i
    return len(line)


def _live_lines(plan: str) -> list[str]:
    """Plan lines NOT inside an InMemoryRelation subtree.

    A persisted dim's printed plan includes the cached relation's build
    plan, but that subtree executes at most once per load (cache fill),
    not per consumer — exchanges inside it are not per-query cost.
    Ancestors of a line are the nearest lines above with smaller depth.
    """
    lines = plan.splitlines()
    live: list[str] = []
    for i, line in enumerate(lines):
        depth = _node_depth(line)
        cached = False
        for j in range(i - 1, -1, -1):
            d = _node_depth(lines[j])
            if d < depth:
                if "InMemoryRelation" in lines[j]:
                    cached = True
                    break
                depth = d
                if d == 0:
                    break
        if not cached:
            live.append(line)
    return live


def test_star_view_is_all_broadcast_joins(spark, plan_sf):
    plan = _plan(pipeline.star(spark, plan_sf)["view"])
    live = _live_lines(plan)
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("BroadcastHashJoin") >= 6  # staging 3 + view 3
    # No shuffle of the fact-sized side before the view materializes:
    # every live (non-cache-fill) exchange must be a broadcast. The
    # bounded dims persist in star() — their build-side reductions
    # (platform distinct+window, product numbering, date min/max) run
    # once per load inside the cache fill, so the per-query plan is
    # scan → broadcast joins → project with NO exchange of any kind on
    # the fact-sized stream.
    for line in live:
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line:
            raise AssertionError(f"live shuffle in star view: {line}")
    assert sum("Exchange SinglePartition" in l for l in live) == 0, plan
    # the dims really are cache-backed (not silently rebuilt inline)
    assert plan.count("InMemoryTableScan") >= 4  # platform x2, product x2, date


def test_bounded_dims_share_one_seed_scan(spark, plan_sf):
    """dim_platform and dim_date both derive from the ONE persisted
    bounded_dim_seed row: outside the cache-fill subtree, neither dim's
    plan may scan staging again (at 100 TB a split back into per-dim
    reductions costs a whole extra fact-sized pass per load)."""
    s = pipeline.star(spark, plan_sf)
    for dim in ("dim_platform", "dim_date"):
        live = _live_lines(_plan(s[dim]))
        for line in live:
            assert "FileScan" not in line, f"{dim} rescans staging: {line}"
        assert any("InMemoryTableScan" in l for l in live), f"{dim} not seed-backed"


def test_dim_build_funnels_are_bounded(spark, plan_sf):
    """The cache-fill plans themselves keep their documented shape: the
    only single-partition funnels are bounded reductions — the platform
    id window (rows = #platforms) and the dim_date min/max (1 row).
    The small-path product numbering window is bounded by
    DENSE_ID_THRESHOLD; past that build_dim_product switches to the
    range-partitioned path pinned below."""
    staging = pipeline.staging_orders(spark, plan_sf)
    platform_plan = _plan(pipeline.build_dim_platform(staging))
    assert platform_plan.count("Exchange SinglePartition") <= 1, platform_plan
    date_plan = _plan(pipeline.build_dim_date(spark, staging))
    assert date_plan.count("Exchange SinglePartition") <= 1, date_plan


def test_lineitem_scan_is_column_pruned(spark, plan_sf):
    plan = _plan(pipeline.star(spark, plan_sf)["view"])
    # the staging projection needs 4 lineitem columns; the wide ones
    # must not reach the parquet reader
    for wide_col in ("l_comment", "l_extendedprice", "l_tax", "l_shipinstruct"):
        assert wide_col not in plan, f"{wide_col} leaked into a scan"


def test_bi_aggregates_are_partial_final(spark, plan_sf):
    plan = _plan(analytics.exec_overview_states(pipeline.star(spark, plan_sf)["view"]))
    # map-side combine: partial aggregate below the exchange
    assert "partial_sum" in plan or "partial_finalmerge" in plan, plan


def test_dim_product_scale_path_has_no_single_partition_exchange(spark, plan_sf):
    # threshold=0 forces the range-partitioned numbering — the path a
    # data-sized product master takes at 100 TB
    plan = _plan(pipeline.build_dim_product(spark, plan_sf, dense_id_threshold=0))
    assert "Exchange SinglePartition" not in plan, plan


def test_dim_product_numbering_paths_agree(spark, plan_sf):
    # the size-adaptive strategy must be invisible in the output: the
    # bounded-dim window path and the scale path yield identical rows
    small = pipeline.build_dim_product(spark, plan_sf).collect()
    scale = pipeline.build_dim_product(spark, plan_sf, dense_id_threshold=0).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, scale))


def test_fact_filters_reach_the_scan(spark, plan_sf):
    plan = _plan(pipeline.star(spark, plan_sf)["fact"])
    # FK-not-null conjuncts must appear as data filters on the scans,
    # not only as post-join filters
    assert "PushedFilters: [" in plan
    assert "isnotnull" in plan.lower()


# ---------------------------------------------------------------------------
# dedup / ANN plan guards — the "never all-pairs" claims from
# PLAN_AUDIT.md, pinned as assertions (VERDICT r4 item 3). Candidate
# generation in every near-dup / ANN path must stay an equi-join
# (hash- or sort-merge-based on the band/bucket/cell key), and no
# guarded plan has a nested loop.
# ---------------------------------------------------------------------------


def _docs(spark, sf):
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    return read_table(spark, sf, "documents")


def _emb(spark, sf):
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    return read_table(spark, sf, "embeddings")


def test_neardup_pairs_candidates_are_band_equi_join(spark, plan_sf):
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    plan = _plan(dedup.neardup_pairs(_docs(spark, plan_sf), lazy=True))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the self-join key is the band hash, not doc×doc
    join_lines = [
        l
        for l in plan.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
    ]
    assert any("band_hash" in l for l in join_lines), plan


def test_embedding_neardup_candidates_are_bucket_equi_join(spark, plan_sf):
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity

    plan = _plan(similarity.embedding_neardup_pairs(_emb(spark, plan_sf)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    join_lines = [
        l
        for l in plan.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
    ]
    assert any("bucket" in l for l in join_lines), plan


def test_ann_lsh_topk_is_broadcast_bucket_join(spark, plan_sf):
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity

    plan = _plan(similarity.ann_lsh_topk(_emb(spark, plan_sf)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # tiny query side broadcast → the corpus side is NEVER shuffled for
    # the candidate join (the only live exchanges are the broadcast
    # itself and the candidate-sized window repartition)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ann_ivf_topk_has_no_nested_loop_and_one_equi_join(spark, plan_sf):
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity

    plan = _plan(similarity.ann_ivf_topk(_emb(spark, plan_sf)))
    assert "CartesianProduct" not in plan, plan
    # probe routing is a projection per query row (sorted centroid
    # distances sliced to nprobe), not a cross join with the centroids
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate selection is the one join: the probe rows, which carry
    # the quantized query, broadcast into an equi-join on cell
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_ann_ivf_topk_entry_is_one_python_task(spark, plan_sf):
    """The gated IVF entry reads the one-row-group embeddings table
    unspread, so its cell scorer runs as one Python task, and its query
    side is one branch: no round-robin spread, no nested loop, one
    broadcast equi-join."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["ann_ivf_topk"](spark, plan_sf))
    assert plan.count("MapInArrow") == 1, plan
    assert "RoundRobinPartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_asof_join_is_one_shuffle_no_range_join(spark, plan_sf):
    """The as-of family's whole point: union-tag + window = ONE hash
    exchange on the key, never a range-join candidate blowup."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import asof
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    ev = read_table(spark, plan_sf, "events")
    for fn in (asof.asof_backward, asof.asof_forward):
        left = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        right = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value")
        )
        plan = _plan(fn(left, right, on="user_id", payload=("value",)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "SortMergeJoin" not in plan, plan  # no join at all: window
        n_ex = sum(
            "Exchange hashpartitioning" in l for l in plan.splitlines()
        )
        assert n_ex == 1, plan


def test_interval_join_batch_plan_is_keyed_join(spark, plan_sf):
    """The stream-stream interval join's batch twin must plan as a
    user_id-keyed join with the time bounds as residual conditions —
    never a nested-loop over events×events."""
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table
    from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

    ev = read_table(spark, plan_sf, "events")
    plan = _plan(W.view_purchase_interval_join(ev))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    join_lines = [
        l
        for l in plan.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
    ]
    assert any("user_id" in l for l in join_lines), plan


def test_funnel_plan_pushes_step_filters_and_stays_equi_join(spark, plan_sf):
    """events_cohort_funnel's scale shape (round 15 — VERDICT r14
    item 7): every events scan is column-pruned to (ts, user_id,
    event_type) with the step's event_type equality PUSHED into the
    parquet scan; every join is a keyed hash/sort-merge join (never a
    nested-loop/cartesian); the only single-partition exchanges carry
    the per-step ONE-ROW counts. The union re-derives each stage per
    branch, so a k-step funnel scans events k(k+1)/2 times — all
    pushdown-pruned (the frontier frames are user-sized, so Catalyst
    is free to pick broadcast vs shuffle per stats)."""
    from sales_analytics_etl_sql_powerbi_spark.operators.analytics import (
        funnel_conversion,
    )
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_events

    plan = _plan(funnel_conversion(read_events(spark, plan_sf)))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 6  # k=3: 1 + 2 + 3 stage re-derivations
    for s in scans:
        assert "EqualTo(event_type," in s, s  # step filter reached the scan
        # column-pruned: never the full events row
        read = s.split("ReadSchema:")[1]
        assert "value" not in read and "event_id" not in read
    # one-row count aggregates are the only single-partition funnels
    assert plan.count("Exchange SinglePartition") == 3


def test_pagerank_fixed_mode_plan_is_checkpoint_flat(spark):
    """PageRank must END on an eager localCheckpoint:
    the returned plan is a bare ExistingRDD scan whose size does not
    grow with iteration count. If the per-iteration checkpoint rots
    away, lineage compounds across iterations and this plan becomes a
    joins-all-the-way-down tree (round 15 — VERDICT r14 item 7)."""
    from sales_analytics_etl_sql_powerbi_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(40)], "src long, dst long"
    )
    plans = []
    for mi in (4, 9):
        p = _plan(pagerank(edges, max_iter=mi))
        assert "ExistingRDD" in p
        plans.append(len(p.splitlines()))
    assert plans[0] == plans[1] <= 2  # flat, constant in iters


def test_multimodal_features_is_one_scan_one_python_node(spark, sf_dir):
    """The five codec legs of multimodal_features run in ONE Arrow
    pass: one documents scan, one Python node, no broadcast and no
    join — per-leg scans, Python nodes and joins cost several times
    the codec work itself at this size."""
    import re

    import __spark_entry__ as E

    df = E.queries()["multimodal_features"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1, plan
    python_nodes = re.findall(r"\b(?:MapInArrow|MapInPandas|\w*EvalPython)\b", plan)
    assert python_nodes == ["MapInArrow"], plan
    assert "BroadcastExchange" not in plan, plan
    assert not re.search(r"\b[A-Z]\w*Join\b|CartesianProduct", plan), plan


def test_batch_sized_upsert_write_plan_has_no_exchange(spark, tmp_path, monkeypatch):
    """An upsert whose batch and existing keys are within the broadcast
    threshold writes through one stage: the dedup and the anti-join
    run in one partition, with no shuffle and no broadcast exchange."""
    from sales_analytics_etl_sql_powerbi_spark.sources import sinks
    from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
        upsert_batch_into_parquet,
    )

    tbl = str(tmp_path / "tbl")
    upsert_batch_into_parquet(spark.range(20).selectExpr("id AS k", "id AS v"), tbl, ["k"])
    written = []
    monkeypatch.setattr(sinks, "_append_isolated", lambda df, *_: written.append(df))
    batch = spark.range(40).selectExpr("id % 30 AS k", "id AS v")
    upsert_batch_into_parquet(batch, tbl, ["k"])
    plan = _plan(written[0])
    assert "Exchange" not in plan, plan
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan, plan
