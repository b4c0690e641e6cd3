"""The three workloads: what one op is, how state is set up, the output
checks, and the per-layer metrics each traced run reports.

Every workload follows one protocol (see ``run.py``): ``INPUTS`` names
the generated inputs it needs before the session starts, ``setup(ctx,
r)`` builds the workload state (``run.py`` times it ``SETUP_REPEATS``
times), ``prepare``/``op``/``finish_op`` run one timed operation with
its untimed input preparation and bookkeeping, ``check`` verifies
outputs outside the timer and returns the failures it found, ``layers``
turns the traced spans plus the UI REST snapshot into per-layer metrics.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sales_analytics_etl_sql_powerbi_spark import pipeline
from sales_analytics_etl_sql_powerbi_spark.operators import analytics
from sales_analytics_etl_sql_powerbi_spark.sources import readers
from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import ensure_order_export_csv
from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import upsert_batch_into_parquet

from . import inputs
from .tracing import (
    TAG,
    driver_gap_s,
    job_intervals,
    python_node_seconds,
    span_of_group,
    stage_extras,
)

MEM = StorageLevel.MEMORY_AND_DISK

#: workload state is set up this many times; setup_s reports the median
SETUP_REPEATS = 3


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


class Ctx:
    """Per-run state shared by the harness and a workload."""

    def __init__(self, spark, tracer, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.rng = random.Random(seed)
        self.op_walls: dict[bool, list[float]] = {False: [], True: []}
        self.op_cpus: dict[bool, list[float]] = {False: [], True: []}
        self.op_spans: list = []  # root spans of traced ops
        self.rest: dict = {}


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


STAR_TABLES = ("lineitem", "orders", "customer", "nation", "part")


def build_star(ctx: Ctx, snap: str):
    """One star load ending in the persisted, counted reporting view.

    Untraced this is ``pipeline.star`` → ``view.persist`` → ``count``.
    Traced, each layer is materialized inside its own span (persist +
    count, so the next layer reads it from cache): table scans, staging,
    the bounded-dim seed, the product dim (rules included), the fact,
    the view join (noop write) and the view's cache write."""
    spark, tr = ctx.spark, ctx.tracer
    if not tr.enabled:
        view = pipeline.star(spark, snap)["view"].persist(MEM)
        return view, view.count()
    with tr.span("star"):
        return _traced_star(spark, tr, snap)


def _traced_star(spark, tr, snap: str):
    held = []

    def keep(df):
        held.append(df.persist(MEM))
        return df.count()

    with tr.span("readers.read_table") as sp:
        sp.attrs["rows_out"] = sum(
            keep(readers.read_table(spark, snap, t)) for t in STAR_TABLES
        )
    with tr.span("pipeline.staging") as sp:
        staging = pipeline.staging_orders(spark, snap)
        sp.attrs["rows_out"] = keep(staging)
    with tr.span("pipeline.dim_seed") as sp:
        sp.attrs["rows_out"] = keep(pipeline.bounded_dim_seed(staging))
    with tr.span("pipeline.dim_product") as sp:
        sp.attrs["rows_out"] = pipeline.build_dim_product(spark, snap).count()
    s = pipeline.star(spark, snap)
    with tr.span("pipeline.fact") as sp:
        sp.attrs["rows_out"] = keep(s["fact"])
    with tr.span("pipeline.view") as sp:
        s["view"].write.format("noop").mode("overwrite").save()
    with tr.span("cache.view_write") as sp:
        view = s["view"].persist(MEM)
        n = sp.attrs["rows_out"] = view.count()
    for df in held:
        df.unpersist()
    return view, n


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _digest(rows: list[dict]) -> tuple[list[str], str]:
    import hashlib

    cols = sorted(rows[0]) if rows else []
    lines = sorted("\x1f".join(_norm(r[c]) for c in cols) for r in rows)
    return cols, hashlib.md5("\n".join(lines).encode()).hexdigest()


def oracle_check(snap: str, results: dict[str, list[dict]]) -> list[str]:
    """Compare each entry's Spark rows (computed on ``snap``) with the
    entry's ``oracle_sql()`` DuckDB twin on the same snapshot: row
    count, column names and order-insensitive value digest. Returns the
    failure messages."""
    import duckdb

    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = snap
    try:
        twins = entry.oracle_sql()
        con = duckdb.connect(config={"autoinstall_known_extensions": False})
        try:
            for t in inputs.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{snap}/{t}.parquet')"
                )
            duck = {name: con.execute(twins[name]).arrow().to_pylist() for name in results}
        finally:
            con.close()
    finally:
        # building the twins exports a CSV fixture per snapshot basename
        shutil.rmtree(os.path.dirname(ensure_order_export_csv(snap)), ignore_errors=True)
        os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
    errs = []
    for name, rows in results.items():
        if len(rows) != len(duck[name]):
            errs.append(f"{name}: {len(rows)} rows vs oracle {len(duck[name])}")
            continue
        (sc, sd), (dc, dd) = _digest(rows), _digest(duck[name])
        if sc != dc:
            errs.append(f"{name}: columns {sc} vs oracle {dc}")
        elif sd != dd:
            errs.append(f"{name}: value digest differs from the oracle")
    return errs


def _group_costs(ctx: Ctx, base_cost: dict) -> dict[int, dict]:
    """Per span id: the summed REST cost of every job group it ran."""
    jobs, stages, sql = ctx.rest["jobs"], ctx.rest["stages"], ctx.rest["sql"]
    extras = stage_extras(jobs, stages)
    py = python_node_seconds(sql, jobs)
    ivals = job_intervals(jobs)
    out: dict[int, dict] = {}
    for group in {j.get("jobGroup") or "" for j in jobs}:
        sid = span_of_group(group)
        if sid is None:
            continue
        m = out.setdefault(sid, {
            "jobs": 0, "tasks": 0, "shuffle_bytes": 0, "input_bytes": 0,
            "eager_jobs": 0, "python_s": 0.0, "intervals": [],
        })
        c = base_cost.get(group[len(TAG):], {})
        m["jobs"] += c.get("jobs", 0)
        m["tasks"] += c.get("tasks", 0)
        m["shuffle_bytes"] += c.get("shuffle_read_bytes", 0) + c.get("shuffle_write_bytes", 0)
        m["input_bytes"] += c.get("input_bytes", 0)
        if group.endswith(":build"):
            m["eager_jobs"] += c.get("jobs", 0)
        m["python_s"] += py.get(group, 0.0)
        m["intervals"] += ivals.get(group, [])
        for k, v in extras.get(group, {}).items():
            m[k] = m.get(k, type(v)()) + v
    return out


def layer_table(ctx: Ctx, layers: tuple[str, ...]) -> dict[str, float]:
    """``<layer>.self_s|jobs|tasks|shuffle_bytes`` summed over the run's
    traced spans of each layer (self time summed, not averaged)."""
    import bench

    base_cost = bench._aggregate_cost(ctx.rest["jobs"], ctx.rest["stages"], [TAG])[TAG]
    costs = _group_costs(ctx, base_cost)
    out: dict[str, float] = {}
    for layer in layers:
        spans = [s for s in ctx.tracer.spans if s.name == layer]
        out[f"{layer}.self_s"] = sum(ctx.tracer.self_s(s) for s in spans)
        for k in ("jobs", "tasks", "shuffle_bytes"):
            out[f"{layer}.{k}"] = sum(costs.get(s.id, {}).get(k, 0) for s in spans)
    ctx.costs = costs
    return out


def runtime_metrics(ctx: Ctx) -> dict[str, float]:
    ex = stage_extras(ctx.rest["jobs"], ctx.rest["stages"])
    u, t = p50(ctx.op_walls[False]), p50(ctx.op_walls[True])
    return {
        "spark.failed_tasks": sum(m["failed_tasks"] for m in ex.values()),
        "spark.stage_retries": sum(m["stage_retries"] for m in ex.values()),
        "spark.gc_s": sum(m["gc_s"] for m in ex.values()),
        "trace.overhead_frac": (t / u - 1) if u and t else 0.0,
    }


STAR_LAYERS = (
    "readers.read_table", "pipeline.staging", "pipeline.dim_seed",
    "pipeline.dim_product", "pipeline.fact", "pipeline.view", "cache.view_write",
)


def star_layers(ctx: Ctx) -> dict[str, float]:
    """The star layers of every traced load, plus the median driver gap
    of a load (time with none of its layers' jobs running)."""
    out = layer_table(ctx, STAR_LAYERS)
    gaps = []
    for star in (s for s in ctx.tracer.spans if s.name == "star"):
        ivals = [
            iv
            for c in ctx.tracer.children(star)
            for iv in ctx.costs.get(c.id, {}).get("intervals", [])
        ]
        gaps.append(driver_gap_s(star, ivals))
    out["star.driver_gap_s"] = p50(gaps)
    return out


# ---------------------------------------------------------------------------
# bi_dashboard
# ---------------------------------------------------------------------------


VISUALS = {
    "exec_overview_states": analytics.exec_overview_states,
    "platform_share": analytics.platform_share,
    "day_of_week_trend": analytics.day_of_week_trend,
    "state_platform_pivot": analytics.state_platform_pivot,
    "platform_rank_in_state": analytics.platform_rank_in_state,
    "category_subcategory": analytics.category_subcategory,
    "category_rollup": analytics.category_rollup,
    "top_products_per_state": lambda v: analytics.top_products_per_state(v, n=3),
}

#: the reference's three dashboard pages, three visuals each
PAGES = {
    "executive_overview": ("exec_overview_states", "platform_share", "day_of_week_trend"),
    "platform_performance": ("state_platform_pivot", "platform_rank_in_state", "platform_share"),
    "category": ("category_subcategory", "category_rollup", "top_products_per_state"),
}

#: visual → the ``queries()`` entry with the same result (oracle twin)
ORACLE_ENTRY = {"exec_overview_states": "state_leaderboard"}

#: visuals whose units cover every view row / only rows with a state
ALL_ROWS = ("platform_share", "day_of_week_trend", "category_subcategory")
STATE_ROWS = ("exec_overview_states", "platform_rank_in_state")


class BiDashboard:
    """One op = one page refresh: 3 visuals on 3 threads over the cached
    view under a seeded slicer; the page ends when the slowest returns.
    Set-up is the star load (traced in traced runs). Each set-up loads a
    snapshot of its own, so no memo keyed by the snapshot dir (such as
    ``pipeline._DIM_PRODUCT_CACHE``) serves a later load."""

    TRACE_SETUP = True
    INPUTS = tuple(f"bi:{r}" for r in range(SETUP_REPEATS))

    def setup(self, ctx: Ctx, r: int) -> None:
        ctx.spark.catalog.clearCache()
        self.snap = inputs.path(ctx.seed, f"bi:{r}")
        self.view, _ = build_star(ctx, self.snap)
        dom = self.view.select("year", "platform_name", "state_code").distinct().collect()
        self.years = sorted({row.year for row in dom})
        self.platforms = sorted({row.platform_name for row in dom})
        self.states = sorted({row.state_code for row in dom if row.state_code})
        self.pool = getattr(self, "pool", None) or ThreadPoolExecutor(3)
        self.order: list[str] = []
        self.pages: list[tuple] = []
        self.visual_ms: dict[str, list[float]] = {v: [] for v in VISUALS}
        self.page_ms: list[float] = []
        # every page renders once on the new view: JIT and codegen of its
        # analytics plans are set-up, not page cost
        for page in sorted(PAGES):
            self.op(ctx, -1, (page, ("none", ())))
        self.pages.clear()
        self.page_ms.clear()
        self.visual_ms = {v: [] for v in VISUALS}

    def close(self) -> None:
        self.pool.shutdown(wait=True)

    def _slicer(self, ctx: Ctx, i: int):
        kind = "none" if i == 0 else ctx.rng.choice(("none", "year", "platform", "states"))
        if kind == "year":
            return kind, (ctx.rng.choice(self.years),)
        if kind == "platform":
            return kind, (ctx.rng.choice(self.platforms),)
        if kind == "states":
            return kind, tuple(sorted(ctx.rng.sample(self.states, ctx.rng.randint(2, 6))))
        return kind, ()

    @staticmethod
    def _where(view, kind: str, arg: tuple):
        if kind == "year":
            return view.where(F.col("year") == arg[0])
        if kind == "platform":
            return view.where(F.col("platform_name") == arg[0])
        if kind == "states":
            return view.where(F.col("state_code").isin(list(arg)))
        return view

    def prepare(self, ctx: Ctx, i: int):
        # every 3 ops show each page once, in a seeded order
        if not self.order:
            self.order = sorted(PAGES)
            ctx.rng.shuffle(self.order)
        return self.order.pop(), self._slicer(ctx, i)

    def _visual(self, ctx: Ctx, name: str, view, parent):
        with ctx.tracer.span("analytics", parent=parent, fn=name):
            t0 = time.perf_counter()
            pdf = VISUALS[name](view).toPandas()
            return name, pdf, (time.perf_counter() - t0) * 1e3

    def op(self, ctx: Ctx, i: int, arg) -> None:
        page, (kind, sl) = arg
        view = self._where(self.view, kind, sl)
        parent = ctx.tracer.current()
        t0 = time.perf_counter()
        futs = [self.pool.submit(self._visual, ctx, v, view, parent) for v in PAGES[page]]
        results = [f.result() for f in futs]
        self.page_ms.append((time.perf_counter() - t0) * 1e3)
        for name, _, ms in results:
            self.visual_ms[name].append(ms)
        self.pages.append((page, kind, sl, {n: pdf for n, pdf, _ in results}))

    def finish_op(self, ctx: Ctx, i: int, arg) -> None:
        pass

    def check(self, ctx: Ctx) -> list[str]:
        errs: list[str] = []
        tot = (
            self.view.groupBy("year", "platform_name", "state_code")
            .agg(F.sum("units").cast("long").alias("u"))
            .toPandas()
        )
        for page, kind, sl, res in self.pages:
            t = tot
            if kind == "year":
                t = t[t.year == sl[0]]
            elif kind == "platform":
                t = t[t.platform_name == sl[0]]
            elif kind == "states":
                t = t[t.state_code.isin(sl)]
            total = int(t.u.sum())
            by_state = t[t.state_code.notna()].groupby("state_code").u.sum()
            state_total = int(by_state.sum())
            got = {}
            for name, pdf in res.items():
                if name in ALL_ROWS:
                    got[name] = (int(pdf.units_sold.sum()), total)
                elif name in STATE_ROWS:
                    got[name] = (int(pdf.units_sold.sum()), state_total)
                elif name == "state_platform_pivot":
                    s = int(pdf[[c for c in pdf.columns if c.startswith("units_p")]].sum().sum())
                    got[name] = (s, state_total)
                elif name == "category_rollup":
                    got[name] = (int(pdf[pdf.level == 3].units_sold.sum()), total)
                elif name == "top_products_per_state":
                    top = pdf.groupby("state_code").units_sold.sum()
                    ok = (pdf.rn <= 3).all() and all(top[s] <= by_state.get(s, 0) for s in top.index)
                    got[name] = (int(ok), 1)
                if "pct_of_total" in pdf.columns and total and abs(pdf.pct_of_total.sum() - 100) > 1e-6:
                    errs.append(f"{page}/{kind}: {name} pct_of_total sums to {pdf.pct_of_total.sum()}")
            for name, (have, want) in got.items():
                if have != want:
                    errs.append(f"{page}/{kind}{sl}: {name} units {have} != {want}")
        # page 0 is unsliced: its visuals must equal the oracle twins
        _, _, _, res = self.pages[0]
        return errs + oracle_check(
            self.snap,
            {ORACLE_ENTRY.get(n, n): pdf.to_dict("records") for n, pdf in res.items()},
        )

    def layers(self, ctx: Ctx) -> dict[str, float]:
        out = star_layers(ctx) | layer_table(ctx, ("analytics",))
        for name, ms in self.traced_visual_ms(ctx).items():
            out[f"analytics.{name}.ms_p50"] = p50(ms)
        waits = [
            w
            for s in ctx.tracer.spans
            if s.name == "analytics"
            for w in ctx.costs.get(s.id, {}).get("launch_waits_ms", [])
        ]
        out["scheduler.launch_wait_ms"] = p50(waits)
        cached = [r for r in ctx.rest["rdd"] if r.get("memoryUsed", 0) + r.get("diskUsed", 0)]
        mem = sum(r.get("memoryUsed", 0) for r in cached)
        disk = sum(r.get("diskUsed", 0) for r in cached)
        out["cache.view_mem_frac"] = mem / (mem + disk) if mem + disk else 0.0
        out["bi.page_ms_p90"] = pct(self.page_ms, 90)
        out["bi.visual_ms_p50"] = p50([m for ms in self.visual_ms.values() for m in ms])
        return out

    def traced_visual_ms(self, ctx: Ctx) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {v: [] for v in VISUALS}
        for s in ctx.tracer.spans:
            if s.name == "analytics":
                out[s.attrs["fn"]].append(s.dur * 1e3)
        return out


# ---------------------------------------------------------------------------
# incremental_load
# ---------------------------------------------------------------------------


FACT_KEYS = ["order_id", "line_number"]


def _dir_files(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


class IncrementalLoad:
    """One op = one daily CSV export batch upserted into an on-disk
    product dim and a fact keyed (order_id, line_number)."""

    LAYERS = ("readers.read_input", "pipeline.clean_order_export", "dims.upsert", "sinks.upsert")
    INPUTS = ("batches",)
    #: batches take about a second each; the median and the growth
    #: ratio need a few of them
    MIN_OPS = 4
    #: loads into throwaway tables before set-up: a session's first loads
    #: cost more while the JIT compiles the load path; after these and the
    #: set-up loads, the CPU of a timed op stays flat through a run
    WARM_LOADS = 4

    def _tables(self, name: str) -> None:
        self.root = os.path.join(inputs.WORK, f"{name}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.dim = os.path.join(self.root, "dim_product")
        self.fact = os.path.join(self.root, "fact_sales")

    def warm_up(self, ctx: Ctx) -> None:
        self.batches = inputs.batch_dirs(ctx.seed)
        self._tables("warm")
        for path in self.batches[:self.WARM_LOADS]:
            for df in self._load(ctx, path)[1]:
                df.unpersist()
        shutil.rmtree(self.root, ignore_errors=True)

    def setup(self, ctx: Ctx, r: int) -> None:
        # batch 0 creates both tables (the first load is set-up)
        self._tables("tables")
        self.loaded: list[str] = []
        self.stats: list[dict] = []
        self._load(ctx, self.batches[0])
        self.loaded.append(self.batches[0])

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def _load(self, ctx: Ctx, path: str):
        spark, tr = ctx.spark, ctx.tracer
        held = []
        with tr.span("readers.read_input"):
            raw = readers.read_input(spark, path)
            if tr.enabled:
                held.append(raw.persist(MEM))
                raw.count()
        with tr.span("pipeline.clean_order_export"):
            clean = pipeline.clean_order_export(raw)
            if tr.enabled:
                held.append(clean.persist(MEM))
                clean.count()
        with tr.span("dims.upsert"):
            keys = clean.select("product_key").where(F.col("product_key").isNotNull())
            upsert_batch_into_parquet(keys, self.dim, ["product_key"])
        with tr.span("sinks.upsert"):
            lines = clean.where(F.col("order_id").isNotNull() & F.col("line_number").isNotNull())
            upsert_batch_into_parquet(lines, self.fact, FACT_KEYS)
        return keys, held

    def prepare(self, ctx: Ctx, i: int):
        if i + 1 >= len(self.batches):
            raise StopIteration
        path = self.batches[i + 1]
        return path, _dir_files(self.fact), _dir_files(self.dim)

    def op(self, ctx: Ctx, i: int, arg) -> None:
        self._pending = self._load(ctx, arg[0])
        self.loaded.append(arg[0])

    def finish_op(self, ctx: Ctx, i: int, arg) -> None:
        path, fact_before, dim_before = arg
        keys, held = self._pending
        if ctx.tracer.enabled:
            import pyarrow.parquet as pq

            fact_after, dim_after = _dir_files(self.fact), _dir_files(self.dim)
            new_files = set(fact_after) - set(fact_before)
            new_dim = set(dim_after) - set(dim_before)
            self.stats.append({
                "input_bytes": sum(_dir_files_any(path).values()),
                "fact_bytes": sum(fact_after[f] for f in new_files),
                "fact_files": len(new_files),
                "offered": keys.distinct().count(),
                "inserted": sum(
                    pq.ParquetFile(os.path.join(self.dim, f)).metadata.num_rows for f in new_dim
                ),
            })
        for df in held:
            df.unpersist()

    def check(self, ctx: Ctx) -> list[str]:
        import duckdb

        from sales_analytics_etl_sql_powerbi_spark import oracles

        twin = " UNION ALL ".join(
            f"SELECT * FROM ({oracles.csv_roundtrip_sql(p)})" for p in self.loaded
        )
        con = duckdb.connect(config={"autoinstall_known_extensions": False})
        try:
            fact = f"read_parquet('{self.fact}/*.parquet')"
            dup = con.execute(
                f"SELECT count(*) FROM (SELECT order_id, line_number FROM {fact} "
                "GROUP BY ALL HAVING count(*) > 1)"
            ).fetchone()[0]
            have = con.execute(f"SELECT count(*), sum(units) FROM {fact}").fetchone()
            want = con.execute(
                "SELECT count(*), sum(units) FROM (SELECT order_id, line_number, "
                f"any_value(units) AS units FROM ({twin}) WHERE order_id IS NOT NULL "
                "AND line_number IS NOT NULL GROUP BY ALL)"
            ).fetchone()
            dim_have = con.execute(
                f"SELECT count(*), count(DISTINCT product_key) FROM read_parquet('{self.dim}/*.parquet')"
            ).fetchone()
            dim_want = con.execute(
                f"SELECT count(DISTINCT product_key) FROM ({twin}) WHERE product_key IS NOT NULL"
            ).fetchone()[0]
        finally:
            con.close()
        errs = []
        if dup:
            errs.append(f"fact has {dup} duplicate (order_id, line_number) keys")
        if tuple(have) != tuple(want):
            errs.append(f"fact rows/units {tuple(have)} != DuckDB over the CSVs {tuple(want)}")
        if dim_have != (dim_want, dim_want):
            errs.append(f"product dim rows/keys {tuple(dim_have)} != {dim_want} distinct keys")
        return errs

    def layers(self, ctx: Ctx) -> dict[str, float]:
        out = layer_table(ctx, self.LAYERS)
        st = self.stats
        out["sinks.bytes_written_per_input_byte"] = (
            sum(s["fact_bytes"] for s in st) / max(1, sum(s["input_bytes"] for s in st))
        )
        out["sinks.files_per_batch"] = p50([s["fact_files"] for s in st])
        out["sinks.key_scan_bytes"] = p50([
            ctx.costs.get(s.id, {}).get("input_bytes", 0)
            for s in ctx.tracer.spans
            if s.name == "sinks.upsert"
        ])
        out["dims.new_key_frac"] = (
            sum(s["inserted"] for s in st) / max(1, sum(s["offered"] for s in st))
        )
        walls = ctx.op_walls[False]
        q = max(1, len(walls) // 4)
        first, last = p50(walls[:q]), p50(walls[-q:])
        out["load.batch_s_growth"] = last / first if first else 0.0
        return out


def _dir_files_any(path: str) -> dict[str, int]:
    return {f: os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)}


# ---------------------------------------------------------------------------
# operator_pass
# ---------------------------------------------------------------------------


#: one ``queries()`` entry per operator family no other workload times.
#: A run holds ``WARM_PASSES`` untimed passes plus ``MIN_OPS`` timed
#: ones, and the benchmark's run budget leaves about 30 s for them, so
#: the pass keeps the four families whose entry runs in about 2 s or
#: less on its own (warm, 4 cores): text, the Python-boundary ones (similarity,
#: multimodal) and the windowed events. Left out: dedup (neardup_pairs
#: 2.6 s), dims (merge_product_master 2.5 s), graph (graph_pagerank 5.6 s).
FAMILIES = {
    "text": ("text_stats",),
    "similarity": ("ann_ivf_topk",),
    "multimodal": ("multimodal_features",),
    "events": ("events_windows",),
}

#: entries whose oracle twin is checked (one per run, picked by seed)
CHECKED = tuple(n for names in FAMILIES.values() for n in names)


class OperatorPass:
    """One op = one pass over ``FAMILIES`` on a fresh seeded snapshot,
    every entry materialized to the client."""

    #: a pass takes seconds, so a run needs this many for its median
    MIN_OPS = 3
    #: untimed passes, each on a snapshot of its own, before set-up: the
    #: first passes of a session cost up to twice the CPU of later ones
    #: (Python workers, codegen, JIT); after three, a pass's CPU is flat
    WARM_PASSES = 3
    #: the warm-up snapshots and one per op of a run of ``MIN_OPS``
    INPUTS = tuple(f"ops:{k}" for k in range(WARM_PASSES + MIN_OPS))

    def warm_up(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.release = entry.release_caches
        for k in range(self.WARM_PASSES):
            self.op(ctx, -1, inputs.path(ctx.seed, f"ops:{k}"))

    def setup(self, ctx: Ctx, r: int) -> None:
        # state is per op (a fresh snapshot): set-up is the Python
        # worker round trip of each Arrow path
        self.checked = ctx.rng.choice(CHECKED)
        ctx.spark.range(4096).mapInArrow(lambda it: it, "id long").count()
        ctx.spark.range(4096).mapInPandas(lambda it: it, "id long").count()

    def prepare(self, ctx: Ctx, i: int) -> str:
        need = f"ops:{self.WARM_PASSES + i}"
        inputs.generate(ctx.seed, [need])
        return inputs.path(ctx.seed, need)

    def op(self, ctx: Ctx, i: int, snap: str) -> None:
        tr = ctx.tracer
        for family, names in FAMILIES.items():
            for name in names:
                with tr.span(f"ops.{family}", entry=name) as sp:
                    tr.group(sp, ":build")
                    df = self.queries[name](ctx.spark, snap)
                    tr.group(sp)
                    df.toPandas()
        self.release(ctx.spark)
        ctx.spark.catalog.clearCache()

    def finish_op(self, ctx: Ctx, i: int, snap: str) -> None:
        if i > 0:  # op 0's snapshot stays for the oracle check
            shutil.rmtree(snap, ignore_errors=True)

    def check(self, ctx: Ctx) -> list[str]:
        snap = inputs.path(ctx.seed, f"ops:{self.WARM_PASSES}")
        rows = self.queries[self.checked](ctx.spark, snap).toArrow().to_pylist()
        self.release(ctx.spark)
        return oracle_check(snap, {self.checked: rows})

    def layers(self, ctx: Ctx) -> dict[str, float]:
        fams = tuple(f"ops.{f}" for f in FAMILIES)
        out = layer_table(ctx, fams)
        for name in (n for names in FAMILIES.values() for n in names):
            spans = [s for s in ctx.tracer.spans if s.attrs.get("entry") == name]
            out[f"entry.{name}.s"] = p50([s.dur for s in spans])
        for fam in FAMILIES:
            spans = [s for s in ctx.tracer.spans if s.name == f"ops.{fam}"]
            cost = [ctx.costs.get(s.id, {}) for s in spans]
            out[f"{fam}.python_worker_s"] = sum(c.get("python_s", 0.0) for c in cost)
            out[f"{fam}.eager_jobs"] = sum(c.get("eager_jobs", 0) for c in cost)
            out[f"{fam}.driver_gap_s"] = sum(
                driver_gap_s(s, c.get("intervals", [])) for s, c in zip(spans, cost)
            )
        return out


WORKLOADS = {
    "bi_dashboard": BiDashboard,
    "incremental_load": IncrementalLoad,
    "operator_pass": OperatorPass,
}


def log_failure(what: str) -> None:
    print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
