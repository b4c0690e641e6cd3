"""Benchmark harness — driver contract.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line::

    {"metric": "total_sec", "value": N, "unit": "sec",
     "queries": {"state_leaderboard": sec, ...}, "sf": 0.1}

Shape mirrors a real warehouse: the star (staging → dims → fact →
reporting view) is materialized once (``pipeline_build`` — the ETL
cost, reference etl/order_info_etl.py's load step), then the BI/
pipeline queries run against the cached view, as Power BI queries the
loaded SQL Server tables. Each query is timed to full materialization
on the client (Arrow-batched ``toPandas()``).

De-noising (round 11): same-code totals on this box historically
ranged ±20% (PLAN_AUDIT variance notes), so by default the whole
suite runs ``--repeat 3`` passes in one session and reports the
per-query MIN as the headline number, with every raw reading kept
under ``"readings"`` — round-over-round accounting no longer needs
manual idle-minima forensics. ``--repeat 1`` restores the old
single-pass behavior.

Warm-up (round 14 — VERDICT r13 item 7): the r13 driver run's three
pass totals were 111.0/80.1/76.2s — a 45% first-pass contention
spread, so even per-query minima arrived under-converged. When
``repeat > 1`` an UNTIMED warm-up pass now runs first (shuffle files,
page cache, codegen caches all land there), the timed passes start
converged, and the warm-up's raw timings are kept in the sidecar as
``warmup_pass`` for transparency. ``SPARK_GRAFT_BENCH_WARMUP=0``
disables it.

Deterministic cost metrics (round 16 — VERDICT r15 item 1): three
consecutive rounds hand-adjudicated ±30% wall-clock box noise on the
shuffle-heaviest entries. Every query now runs under a job group
(``p{pass}:{name}``), and after the passes the Spark UI REST API is
read once to sum per-query shuffle read/write bytes, input bytes,
task count, stage count, and job count — CODE-determined quantities
a busy box cannot move. They land in the sidecar under ``"cost"``
(final timed pass) and ``"cost_by_pass"`` (every pass, warm-up
included), with ``"cost_stable"`` flagging queries whose shuffle
bytes were identical across timed passes. ``scripts/costdiff.py``
diffs two sidecars: a wall-clock mover with byte-identical cost is
box noise by construction; a byte mover is a real plan change.
"""

from __future__ import annotations

import json
import os
import sys
import time

#: session conf added on top of ``session.get_spark`` — cost-metric
#: plumbing (round 16): the UI's REST API is the source for per-query
#: shuffle bytes / task counts; retention must cover every job of every
#: pass, and synchronous state tracking makes the post-run read
#: deterministic (no async listener lag between the last job and the
#: REST fetch)
COST_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.appStateStore.asyncTracking.enable": "false",
}


def run_pass(spark, sf_dir: str, tag: str = "") -> tuple[dict[str, float], int]:
    """One full pass over every bench query; returns (timings, view rows).

    The reporting view is persisted for the BI queries (that IS the
    warehouse shape being measured) and unpersisted at pass end so a
    following pass rebuilds from parquet instead of reading the cache.

    ``tag`` prefixes the per-query job group (``{tag}{name}``) so the
    post-run REST read can attribute every stage's cost to (pass,
    query) — plan-build jobs a query pays eagerly (width peeks, IVF
    codebook sampling) run inside its clock and are correctly charged
    to it.
    """
    from pyspark.storagelevel import StorageLevel

    import __spark_entry__ as entrymod
    from sales_analytics_etl_sql_powerbi_spark import pipeline
    from sales_analytics_etl_sql_powerbi_spark.operators import analytics

    sc = spark.sparkContext
    timings: dict[str, float] = {}

    # Full materialization to the client via Arrow batches (toPandas) —
    # the production path for pulling a result set into Python, ~5x
    # faster than row-at-a-time py4j collect() on wide results; the
    # engine work timed is identical (every row still reaches the
    # driver).
    def clock(name: str, fn) -> None:
        sc.setJobGroup(f"{tag}{name}", name)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        timings[name] = round(time.perf_counter() - t0, 3)

    # ---- ETL: build + materialize the star once -------------------------
    # Only the reporting view is persisted — it is what the BI queries
    # read (the reference materializes the same surface as SQL Server
    # tables + view). fact/dims stay lazy; pruned recompute is cheaper
    # than caching them too.
    sc.setJobGroup(f"{tag}pipeline_build", "pipeline_build")
    t0 = time.perf_counter()
    try:
        s = pipeline.star(spark, sf_dir)
        view = s["view"].persist(StorageLevel.MEMORY_AND_DISK)
        n_view = view.count()
    finally:
        sc.setJobGroup(None, None)
    timings["pipeline_build"] = round(time.perf_counter() - t0, 3)

    # ---- BI queries over the materialized view --------------------------
    clock("state_leaderboard", lambda: analytics.exec_overview_states(view).toPandas())
    clock("platform_share", lambda: analytics.platform_share(view).toPandas())
    clock("state_platform_pivot", lambda: analytics.state_platform_pivot(view).toPandas())
    clock("category_subcategory", lambda: analytics.category_subcategory(view).toPandas())
    clock("day_of_week_trend", lambda: analytics.day_of_week_trend(view).toPandas())
    clock(
        "platform_rank_in_state",
        lambda: analytics.platform_rank_in_state(view).toPandas(),
    )
    clock(
        "top_products_per_state",
        lambda: analytics.top_products_per_state(view, n=3).toPandas(),
    )

    # ---- cold-plan queries (full pipeline per query, like the driver) ----
    raw = entrymod._RAW_QUERIES
    for name in (
        "load_audit",
        "events_json",
        "events_asof",
        "events_windows",
        "events_interval_join",
        "events_cohort_funnel",
        "scd2_customer_history",
        "entity_match",
        "events_state",
        "text_stats",
        "doc_profile",
        "chunk_documents",
        "text_retrieval",
        "scrub_pii",
        "reference_rules",
        "merge_product_master",
        "customer_dim_repair",
        "corpus_sampling",
        "dedup_exact",
        "neardup_pairs",
        "neardup_clusters",
        "cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "embedding_neardup",
        "staging_csv_roundtrip",
        "corpus_clean",
        "category_rollup",
        "graph_pagerank",
        "doc_length_quantiles",
        # codec legs (round 13 — VERDICT r12 item 6): regressions in
        # the mapInPandas decode path now show up here, not just in
        # CORRECTNESS wall-time; r12 probe baseline ~2-6s each
        "multimodal_features",
        "multimodal_frames",
    ):
        clock(name, lambda fn=raw[name]: fn(spark, sf_dir).toPandas())

    view.unpersist(blocking=True)
    return timings, n_view


def collect_cost(spark, tags: list[str]) -> dict[str, dict[str, dict[str, int]]]:
    """Per-(pass, query) deterministic cost from the UI REST API.

    Sums, over the COMPLETED stages of every job in the job group
    ``{tag}{query}``: shuffle read/write bytes, input/output bytes,
    task count — plus stage and job counts. Stage attribution: each
    completed stage attempt is charged to the FIRST job (ascending
    jobId) that references it; later jobs reusing the exchange see the
    stage as SKIPPED in their own run, so nothing double-counts.
    These are code-determined quantities (the plan decides them), so
    cross-round diffs of this table are a hard regression signal where
    wall-clock is ±30% box noise (VERDICT r15 item 1). Returns
    {tag: {query: metrics}}; degrades to {} if the UI is unreachable
    (bench's stdout contract never depends on it)."""
    import urllib.request

    sc = spark.sparkContext
    base = sc.uiWebUrl
    if not base:
        return {}
    try:
        def _get(path):
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{sc.applicationId}/{path}"
            ) as r:
                return json.load(r)

        jobs = _get("jobs")
        stages = _get("stages")
    except Exception:
        return {}
    return _aggregate_cost(jobs, stages, tags)


def _aggregate_cost(
    jobs: list, stages: list, tags: list[str]
) -> dict[str, dict[str, dict[str, int]]]:
    """Pure attribution core of :func:`collect_cost` (unit-testable on
    canned REST payloads)."""
    # one attempt per stageId — the LATEST complete one (ADVICE r16:
    # summing every COMPLETE attempt double-counted retried stages'
    # bytes/tasks, which would break the byte-identical == box-noise
    # invariant costdiff relies on exactly when a run retries)
    done: dict[int, dict] = {}
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        sid = s["stageId"]
        prev = done.get(sid)
        if prev is None or s.get("attemptId", 0) > prev.get("attemptId", 0):
            done[sid] = s
    # newest-first from the API → ascend by jobId for first-job claims
    out: dict[str, dict[str, dict[str, int]]] = {t: {} for t in tags}
    claimed: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup") or ""
        tag = next((t for t in tags if group.startswith(t)), None)
        if tag is None:
            continue
        name = group[len(tag):]
        m = out[tag].setdefault(
            name,
            {
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "input_bytes": 0,
                "output_bytes": 0,
                "tasks": 0,
                "stages": 0,
                "jobs": 0,
            },
        )
        m["jobs"] += 1
        for sid in j.get("stageIds", ()):
            if sid in claimed:
                continue
            claimed.add(sid)
            s = done.get(sid)
            if s is not None:
                m["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                m["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                m["input_bytes"] += s.get("inputBytes", 0)
                m["output_bytes"] += s.get("outputBytes", 0)
                m["tasks"] += s.get("numTasks", 0)
                m["stages"] += 1
    return out


def cost_stability(
    cost_by_tag: dict, pass_tags: list[str], name: str
) -> bool | None:
    """Per-query shuffle-byte stability across timed passes.

    True = byte-identical in every pass; False = varied; None = NO
    pass carried a cost entry for this query (job-group tag mismatch /
    UI eviction) — unknown, not stable (round 18, ADVICE r17: the
    all-None tuple used to report stable with zero data behind it). A
    PARTIAL gap (entry in some passes only) counts as unstable — the
    attribution itself wobbled."""
    tuples = [
        (
            cost_by_tag.get(t, {}).get(name, {}).get("shuffle_read_bytes"),
            cost_by_tag.get(t, {}).get(name, {}).get("shuffle_write_bytes"),
        )
        for t in pass_tags
    ]
    if all(t == (None, None) for t in tuples):
        return None
    return len(set(tuples)) == 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    argv = sys.argv[1:]
    if "--repeat" in argv:
        i = argv.index("--repeat")
        if i + 1 >= len(argv):
            raise SystemExit("usage: bench.py [--repeat N]  (N >= 1)")
        try:
            repeat = int(argv[i + 1])
        except ValueError:
            raise SystemExit(
                f"usage: bench.py [--repeat N] — got {argv[i + 1]!r}"
            ) from None
    if repeat < 1:
        raise SystemExit("--repeat must be >= 1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    spark = get_spark(
        app_name="spark-graft-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            **COST_CONF,
            # default 1g, overridable for scale sweeps whose result sets
            # legitimately grow with SF (the bench clocks FULL client
            # materialization by contract)
            "spark.driver.maxResultSize": os.environ.get(
                "SPARK_GRAFT_MAX_RESULT", "1g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # one trivial job first: JVM/codegen/parquet-reader warmup is session
    # startup cost, not query cost, and would otherwise land entirely on
    # whichever query runs first.
    spark.range(10).count()
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()
    # warm the Arrow collection path too (first toPandas pays ~3s of
    # one-time Arrow/codegen init that is session cost, not query cost)
    spark.range(1000).selectExpr("id", "cast(id as string) s").toPandas()
    # the CSV roundtrip query times the distributed SCAN + cleaning; the
    # one-time fixture export (a DuckDB COPY of the raw order export) is
    # environment setup, not query cost — materialize it outside the clock
    from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import (
        ensure_order_export_csv,
    )

    ensure_order_export_csv(sf_dir)

    # one UNTIMED warm-up pass (round 14): first-pass totals ran up to
    # 45% hot vs converged passes on the driver box (r13 readings:
    # 111.0/80.1/76.2s) — JVM JIT, page cache, and codegen caches are
    # session cost, not query cost, and min-of-3 can't fully shed them
    # when every pass shares the contention tail
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    warmup_timings: dict[str, float] | None = None
    if repeat > 1 and warmup:
        warmup_timings, _ = run_pass(spark, sf_dir, tag="w:")

    passes: list[dict[str, float]] = []
    n_view = 0
    for i in range(repeat):
        timings, n_view = run_pass(spark, sf_dir, tag=f"p{i}:")
        passes.append(timings)

    # deterministic cost per (pass, query) — read once, after all jobs
    pass_tags = [f"p{i}:" for i in range(repeat)]
    cost_by_tag = collect_cost(
        spark, (["w:"] if warmup_timings is not None else []) + pass_tags
    )

    queries = {name: min(p[name] for p in passes) for name in passes[0]}
    readings = {name: [p[name] for p in passes] for name in passes[0]}
    total = round(sum(queries.values()), 3)
    out = {
        "metric": "total_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "rows": {"fact": n_view, "view": n_view},
        "cpus": int(cpus),
        "repeat": repeat,
    }
    # Raw per-pass readings go to a SIDECAR, never the summary line:
    # the driver captures a bounded stdout tail and parses the last
    # line as JSON — round 11's inline "readings" pushed that line
    # past the window and broke the parse (BENCH_r11.json parsed:
    # null). The sidecar also records min-of-pass-totals alongside
    # the headline sum-of-per-query-minima, since the two protocols
    # are not interchangeable (ADVICE r11).
    if repeat > 1:
        # headline cost: the FINAL timed pass (fully warmed, converged
        # AQE decisions); stability cross-checked over all timed passes
        if cost_by_tag:
            final_cost = cost_by_tag.get(pass_tags[-1], {})
            cost_stable = {
                name: cost_stability(cost_by_tag, pass_tags, name)
                for name in queries
            }
        else:
            # UI unreachable — collect_cost degraded to {} (ADVICE
            # r16: evaluating stability over all-None tuples reported
            # every query byte-stable with NO cost data read); null
            # marks a failed REST read as distinct from stability
            final_cost = None
            cost_stable = None
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_readings.json")
        with open(sidecar, "w") as f:
            json.dump(
                {
                    "repeat": repeat,
                    "sf": sf,
                    "warmup_pass": warmup_timings,
                    "readings": readings,
                    "pass_totals": [
                        round(sum(p.values()), 3) for p in passes
                    ],
                    "min_pass_total": round(
                        min(sum(p.values()) for p in passes), 3
                    ),
                    "cost": final_cost,
                    "cost_stable": cost_stable,
                    "cost_by_pass": cost_by_tag,
                },
                f,
                indent=1,
            )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
