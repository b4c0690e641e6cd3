"""Driver-contract seams that need no SparkSession.

The driver runs ``queries()`` vs ``oracle_sql()`` at sf0.01; local
sweeps (scripts/check_correctness.py) run them at any SF. Oracle twins
that carry side-inputs trained FROM the corpus (CSV export fixture,
IVF codebook, auto-sized LSH planes) must derive them from the same
corpus being swept — ``SPARK_GRAFT_ORACLE_SF_DIR`` is that seam. The
round-5 sf0.1 sweep caught exactly this: an sf0.01-pinned codebook
hash-mismatching against sf0.1 data.
"""

import pathlib

import __spark_entry__ as E
from sales_analytics_etl_sql_powerbi_spark.operators import similarity


def test_oracle_sf_dir_defaults_to_driver_scale(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    assert E._oracle_sf_dir().endswith("sf0.01")


def test_oracle_sf_dir_follows_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.1")
    assert E._oracle_sf_dir() == "/root/testdata/sf0.1"


def test_ivf_oracle_codebook_derives_from_sf_dir():
    """Different corpora must train different codebook literals — if the
    two strings matched, the sf_dir seam would be dead code and the
    sweep would silently replay one scale's constants at another."""
    s001 = similarity.ann_ivf_topk_sql(sf_dir="/root/testdata/sf0.01")
    s01 = similarity.ann_ivf_topk_sql(sf_dir="/root/testdata/sf0.1")
    assert s001 != s01


def test_dead_session_cache_entries_evicted(spark):
    """Round 17 (VERDICT r16 item 4): session-scoped cache entries
    (``@app:``-prefixed keys) belonging to sessions other than the
    live one are swept when the live session writes a memo, and the
    live session's results are unaffected. A true two-SparkSession
    restart is not viable inside the shared test JVM, so the dead
    session is simulated by planting entries under a foreign
    applicationId — exactly what a dead session leaves behind."""
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import parquet_footer

    sf = "/root/testdata/sf0.001"
    dead_idx = ("@app:dead-session", "rp_index", sf, E._RP_DIM)
    dead_persist = ("@app:dead-session", sf, "text_retrieval")
    sentinel = ("bpe_merges", "sentinel-sf", 1)
    E._PLAN_CACHE[dead_idx] = (None, object())
    E._QUERY_PERSISTS[dead_persist] = [object()]
    # session-independent entries (sf+params keys) must survive sweeps
    E._PLAN_CACHE[sentinel] = (None, ["sentinel"])
    live = (E._app_key(spark), "live-sentinel")
    try:
        assert E.read_table(spark, sf, "region").count() == 5
        # a table read writes no memo, so it sweeps nothing
        assert dead_idx in E._PLAN_CACHE
        assert E._memo(spark, sf, "embeddings", live, lambda: "built") == "built"
        assert dead_idx not in E._PLAN_CACHE
        assert dead_persist not in E._QUERY_PERSISTS
        assert E._PLAN_CACHE[sentinel] == (None, ["sentinel"])
        # the entry carries the embeddings table's file stamp
        stamp = parquet_footer(f"{sf}/embeddings.parquet", spark).stamp
        assert E._PLAN_CACHE[live] == (stamp, "built")
        assert E._memo(spark, sf, "embeddings", live, lambda: "rebuilt") == "built"
    finally:
        E._PLAN_CACHE.pop(live, None)
        E._PLAN_CACHE.pop(sentinel, None)
        E._PLAN_CACHE.pop(dead_idx, None)
        E._QUERY_PERSISTS.pop(dead_persist, None)


def test_release_caches_unpersists_tracked_handles(spark):
    """Round 19 (VERDICT r18 item 6): queries whose shared persists
    must outlive their (lazy) return register the handles, and
    release_caches() unpersists exactly the live session's set."""
    sf = "/root/testdata/sf0.001"
    df = E._RAW_QUERIES["customer_dim_repair"](spark, sf)
    df.count()  # materializes the tracked persist
    key = (E._app_key(spark), sf, "customer_dim_repair")
    assert key in E._QUERY_PERSISTS
    handles = E._QUERY_PERSISTS[key]
    assert any(h.storageLevel.useMemory for h in handles)
    released = E.release_caches(spark)
    assert released >= len(handles)
    assert key not in E._QUERY_PERSISTS
    for h in handles:
        assert not h.storageLevel.useMemory  # unpersisted
    # the query still computes correctly afterwards (lazy recompute)
    assert E._RAW_QUERIES["customer_dim_repair"](spark, sf).count() > 0


class _Handle:
    """Stand-in for a tracked persisted frame whose unpersist fails."""

    def __init__(self, exc=None):
        self.exc, self.calls = exc, 0

    def unpersist(self):
        self.calls += 1
        if self.exc:
            raise self.exc


def test_release_caches_counts_only_successful_unpersists(spark, caplog):
    """A failing unpersist on a live session is logged and not
    counted, and the remaining handles are still released."""
    E.release_caches(spark)  # handles other tests left tracked
    key = (E._app_key(spark), "sentinel-sf", "sentinel_query")
    ok, bad, ok2 = _Handle(), _Handle(RuntimeError("boom")), _Handle()
    E._QUERY_PERSISTS[key] = [ok, bad, ok2]
    try:
        with caplog.at_level("WARNING", logger=E.__name__):
            released = E.release_caches(spark)
    finally:
        E._QUERY_PERSISTS.pop(key, None)
    assert (ok.calls, bad.calls, ok2.calls) == (1, 1, 1)
    assert released == 2
    assert key not in E._QUERY_PERSISTS
    assert "sentinel_query" in caplog.text and "boom" in caplog.text


def test_release_caches_on_a_stopped_session_is_silent(spark, monkeypatch, caplog):
    """A stopped session's cache went with it: nothing is released or
    counted and nothing raises — whether it stopped before the call or
    while the handles were being released."""

    class _StoppedContext:
        _jsc = None

    class _StoppedSession:
        sparkContext = _StoppedContext()

    assert E.release_caches(_StoppedSession()) == 0

    E.release_caches(spark)
    key = (E._app_key(spark), "sentinel-sf", "sentinel_query")
    h = _Handle(RuntimeError("context stopped"))
    E._QUERY_PERSISTS[key] = [h]
    stopped = iter([False, True])  # live at entry, stopped at the failure
    monkeypatch.setattr(E, "_stopped", lambda s: next(stopped))
    try:
        with caplog.at_level("WARNING", logger=E.__name__):
            assert E.release_caches(spark) == 0
    finally:
        E._QUERY_PERSISTS.pop(key, None)
    assert h.calls == 1 and "context stopped" not in caplog.text


def test_one_session_builder_and_no_library_conf_writes():
    """Every session is built by ``session.get_spark``, and library code
    scopes confs only through ``session.scoped``: no other file builds a
    session, and no library file writes a session conf."""
    root = pathlib.Path(E.__file__).resolve().parent
    pkg = sorted((root / "sales_analytics_etl_sql_powerbi_spark").rglob("*.py"))
    entry = [root / "__spark_entry__.py"]
    tooling = [root / "bench.py", *sorted((root / "scripts").glob("*.py"))]
    tooling += sorted((root / "tests").glob("*.py"))
    factory = root / "sales_analytics_etl_sql_powerbi_spark" / "session.py"

    def offenders(files, needles):
        return [
            f"{p.relative_to(root)}:{i}"
            for p in files
            if p != factory
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if any(n in line for n in needles)
        ]

    assert offenders(pkg + entry + tooling, ["SparkSession" + ".builder"]) == []
    assert offenders(pkg + entry, [".conf" + ".set(", ".conf" + ".unset("]) == []


#: package modules kept although no gated query, bench entry or
#: perfbench workload imports them — each with the reason it stays
_UNREACHED_ALLOWED = {
    "streaming.ingest": "the Structured Streaming front door of the "
    "reference's CSV ETL",
    "operators.corpus": "build_training_corpus, the pipeline the planned "
    "per-query run record is first committed for",
}


def _import_closure(root: pathlib.Path, pkg: str, seeds) -> set[str]:
    """Package modules (dotted, relative to ``pkg``) reached from the
    ``seeds`` files through any ``import`` statement, lazy ones inside
    functions included. Importing a module imports its parent packages,
    so a package counts as reached whenever any of its submodules is."""
    import ast

    pkg_dir = root / pkg

    def path_of(mod: str):
        base = pkg_dir.joinpath(*mod.split(".")) if mod else pkg_dir
        for p in (base / "__init__.py", base.with_suffix(".py")):
            if p.is_file():
                return p
        return None

    reached: set[str] = set()
    todo = list(seeds)
    seen_files: set[pathlib.Path] = set()

    def reach(mod: str) -> None:
        parts = mod.split(".") if mod else []
        for i in range(len(parts) + 1):
            sub = ".".join(parts[:i])
            p = path_of(sub)
            if p is not None:
                reached.add(sub)
                todo.append(p)

    while todo:
        path = todo.pop()
        if path in seen_files:
            continue
        seen_files.add(path)
        in_pkg = pkg_dir in path.parents
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == pkg or a.name.startswith(pkg + "."):
                        reach(a.name[len(pkg) + 1:])
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    if not in_pkg:
                        continue
                    base = list(path.relative_to(pkg_dir).parts[:-1])
                    base = base[: len(base) - (node.level - 1)]
                    mod = ".".join(base + ([node.module] if node.module else []))
                elif node.module == pkg or (node.module or "").startswith(pkg + "."):
                    mod = node.module[len(pkg) + 1:]
                else:
                    continue
                reach(mod)
                for a in node.names:  # ``from pkg.sub import module``
                    sub = f"{mod}.{a.name}" if mod else a.name
                    if path_of(sub) is not None:
                        reach(sub)
    return reached - {""}


_PKG = "sales_analytics_etl_sql_powerbi_spark"


def _seeds(root: pathlib.Path) -> list[pathlib.Path]:
    """The gated queries, the bench and the perfbench workloads."""
    seeds = [root / "__spark_entry__.py", root / "bench.py"]
    return seeds + sorted((root / "perfbench").glob("*.py"))


def test_every_package_module_is_reached():
    """Every package module is reached by the import closure of the
    gated queries (``__spark_entry__.py``), the bench (``bench.py``) or
    the perfbench workloads, or is listed with its reason in
    ``_UNREACHED_ALLOWED``. Pure AST walk: no Spark, no imports run."""
    root = pathlib.Path(E.__file__).resolve().parent
    pkg = _PKG
    reached = _import_closure(root, pkg, _seeds(root))
    modules = {
        ".".join(p.relative_to(root / pkg).with_suffix("").parts)
        .removesuffix(".__init__")
        .removesuffix("__init__")
        for p in (root / pkg).rglob("*.py")
    } - {""}
    unreached = sorted(modules - reached - set(_UNREACHED_ALLOWED))
    assert unreached == [], (
        f"package modules no query, bench entry or perfbench workload "
        f"imports: {unreached} — cover, delete, or allow with a reason"
    )
    stale = sorted(set(_UNREACHED_ALLOWED) & reached)
    assert stale == [], f"allowlisted modules are reached now: {stale}"


_TEST_REFERENCE = "test reference of a gated path: "
_QUALITY_CHECK = (
    "mirrors the reference's 90_validation_checks.sql; a candidate to "
    "cover inside a gated query, which changes its hash"
)
_STAGING = "staging write helper of the reference's load (S5-S9)"
_FIXTURE = "Excel fixture writer the xls/xlsx reader tests build inputs with"
_STREAMING = "sink of the streaming front door (streaming.ingest)"
_OBSERVABILITY = (
    "the reference's per-stage rowcounts (A10); a quality.observed "
    "counter in clean_order_export is planned (ROADMAP item 1)"
)

#: top-level package functions and classes kept although no gated
#: query, bench entry or perfbench workload reaches them — each with the
#: reason it stays. Every name in a module of ``_UNREACHED_ALLOWED`` is
#: allowed with that module's reason, and what those bodies call counts
#: as reached.
_UNREACHED_FUNCS_ALLOWED = {
    **{
        f"operators.multimodal.{n}": _TEST_REFERENCE + "multimodal_features"
        for n in (
            "attach_jpeg_payload",
            "attach_png_payload",
            "extract_audio_features",
            "extract_features",
            "extract_jpeg_features",
            "extract_png_features",
            "resize_images",
        )
    },
    **{
        f"operators.{n}": _TEST_REFERENCE + "doc_profile"
        for n in (
            "text.token_count_bpe",
            "text.lang_id",
            "text.doc_fingerprint",
            "dedup.simhash",
        )
    },
    **{
        f"operators.sampling.{n}": _TEST_REFERENCE + "sampling_profile's flags"
        for n in (
            "deterministic_sample",
            "sample_per_group",
            "stratified_mix",
            "weighted_sample_sql",
        )
    },
    "operators.similarity.with_cells": _TEST_REFERENCE + "with_cells_arrow",
    "operators.dedup.minhash_signatures": _TEST_REFERENCE
    + "neardup_pairs' signatures",
    "functions.keys.stable_id_pandas_udf": _TEST_REFERENCE + "stable_id_expr",
    **{
        f"operators.quality.{n}": _QUALITY_CHECK
        for n in (
            "expectations",
            "assert_expectations",
            "profile_table",
            "fk_violations",
            "freshness_check",
            "volume_drift_check",
        )
    },
    **{
        f"operators.quality.{n}": _OBSERVABILITY
        for n in ("rowcounts", "observed", "observed_metrics")
    },
    **{
        f"sources.sinks.{n}": _STAGING
        for n in (
            "write_overwrite",
            "write_append",
            "create_table_if_not_exists",
            "with_load_defaults",
            "register_temp_view",
            "write_bucketed",
        )
    },
    **{
        n: _FIXTURE
        for n in (
            "sources.xls.write_minimal_xls",
            "sources.xls._cfb_container",
            "sources.xls._sst_records",
            "sources.xls._write_string",
            "sources.xls._rec",
            "sources.xlsx.write_minimal_xlsx",
            "sources.xlsx._col_letter",
        )
    },
    **{
        f"streaming.{n}": _STREAMING
        for n in (
            "sinks.stream_to_parquet",
            "sinks.foreach_batch_upsert_parquet",
            "sinks.drain_available_now",
            "windows.enrich_with_dim",
        )
    },
}


def _package_defs(root: pathlib.Path) -> tuple[dict, set[str]]:
    """(``{name: [(module, node)]}`` for every top-level package function
    and class, the names that module-level code other than definitions,
    imports and ``__all__`` references)."""
    import ast

    defs: dict[str, list] = {}
    module_level: set[str] = set()
    for p in sorted((root / _PKG).rglob("*.py")):
        mod = ".".join(p.relative_to(root / _PKG).with_suffix("").parts)
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((mod, node))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets
            ):
                continue
            else:
                module_level |= _referenced_names(node)
    return defs, module_level


def _referenced_names(node) -> set[str]:
    import ast

    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _name_closure(defs: dict, names: set[str]) -> set[str]:
    """Definition names reached from ``names``: a reached name's bodies
    (every definition of that name — matching is by name, so this
    over-counts) reach the names they reference."""
    reached: set[str] = set()
    todo = set(names)
    while todo:
        name = todo.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo |= _referenced_names(node)
    return reached


def test_every_package_function_is_reached():
    """Every top-level package function or class is referenced by name
    from the gated queries, the bench or the perfbench workloads, from a
    body they reach, or from module-level code — or is listed with its
    reason in ``_UNREACHED_FUNCS_ALLOWED``. Pure AST walk: no Spark, no
    imports run."""
    import ast

    root = pathlib.Path(E.__file__).resolve().parent
    defs, start = _package_defs(root)
    for seed in _seeds(root):
        start |= _referenced_names(ast.parse(seed.read_text()))
    reached = _name_closure(defs, start)
    allowed = dict(_UNREACHED_FUNCS_ALLOWED)
    for name, nodes in defs.items():
        for mod, _ in nodes:
            if mod in _UNREACHED_ALLOWED:
                allowed[f"{mod}.{name}"] = _UNREACHED_ALLOWED[mod]
    # what an allowed body calls is kept with it
    with_kept = _name_closure(defs, start | {k.rsplit(".", 1)[1] for k in allowed})
    unreached = sorted(
        f"{mod}.{name}"
        for name, nodes in defs.items()
        for mod, _ in nodes
        if name not in with_kept
    )
    assert unreached == [], (
        f"package functions no query, bench entry or perfbench workload "
        f"reaches: {unreached} — cover, delete, or allow with a reason"
    )
    stale = sorted(
        key for key in _UNREACHED_FUNCS_ALLOWED if key.rsplit(".", 1)[1] in reached
    )
    assert stale == [], f"allowlisted functions are reached now: {stale}"
    missing = sorted(
        key
        for key in _UNREACHED_FUNCS_ALLOWED
        if key.rsplit(".", 1)[0]
        not in {mod for mod, _ in defs.get(key.rsplit(".", 1)[1], [])}
    )
    assert missing == [], f"allowlisted functions that do not exist: {missing}"


_INPUT_CHECK = (
    "input check no gated caller needs: those callers read the width "
    "from the footer (_emb_plan); the peek checks any other frame"
)

#: ``bool`` flags of top-level package functions that no seed or
#: package call sets both ways — each with the reason it stays
_ONE_WAY_FLAGS_ALLOWED = {
    "operators.rules.apply_passes.compile_via_sql": "the Column-path "
    "witness the fuzz test checks the SQL compiler against",
    "operators.dedup.neardup_pairs.lazy": "test_plans reads the candidate "
    "join's plan before the checkpoint",
    "operators.dims.scd2_apply.strict": _INPUT_CHECK,
    **{
        f"operators.similarity.{n}.validate_dim": _INPUT_CHECK
        for n in (
            "ann_index",
            "ann_query",
            "ann_lsh_topk",
            "embedding_neardup_pairs",
            "rp_project",
            "shortlisted_cosine_topk",
        )
    },
}


def _bool_flags(node) -> dict[str, tuple[int | None, bool]]:
    """``{name: (positional index or None, default)}`` for the
    ``bool``-annotated parameters of ``node`` with a literal default,
    except ``_``-prefixed ones."""
    import ast

    a = node.args
    positional = a.posonlyargs + a.args
    pos_defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
    params = [(i, p, d) for i, (p, d) in enumerate(zip(positional, pos_defaults))]
    params += [(None, p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return {
        p.arg: (i, d.value)
        for i, p, d in params
        if isinstance(p.annotation, ast.Name)
        and p.annotation.id == "bool"
        and isinstance(d, ast.Constant)
        and isinstance(d.value, bool)
        and not p.arg.startswith("_")
    }


def _passed_values(call, index: int | None, name: str, default: bool) -> set[bool]:
    """The values ``call`` gives the flag: both when it passes a
    non-literal (or ``*args``/``**kwargs`` that may carry it)."""
    import ast

    def value(arg) -> set[bool]:
        if isinstance(arg, ast.Constant) and isinstance(arg.value, bool):
            return {arg.value}
        return {True, False}

    for kw in call.keywords:
        if kw.arg == name:
            return value(kw.value)
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return {True, False}
        if i == index:
            return value(arg)
    if any(kw.arg is None for kw in call.keywords):
        return {True, False}
    return {default}


def test_every_package_flag_is_used_both_ways():
    """Every ``bool`` parameter with a literal default on a top-level
    package function is left at its default by some call in the gated
    queries, the bench, the perfbench workloads or the package, and
    given the other value by some call — or is listed with its reason
    in ``_ONE_WAY_FLAGS_ALLOWED`` (a flag of an allowlisted function
    takes that function's reason). Calls match by function name, as in
    :func:`_name_closure`. Pure AST walk: no Spark, no imports run."""
    import ast

    root = pathlib.Path(E.__file__).resolve().parent
    files = sorted((root / _PKG).rglob("*.py"))
    flags: dict[str, list] = {}  # function name -> [(module, flag, index, default)]
    for p in files:
        mod = ".".join(p.relative_to(root / _PKG).with_suffix("").parts)
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                flags.setdefault(node.name, []).extend(
                    (mod, flag, index, default)
                    for flag, (index, default) in _bool_flags(node).items()
                )
    used: dict[str, set[bool]] = {}
    for path in _seeds(root) + files:
        for call in ast.walk(ast.parse(path.read_text())):
            if isinstance(call, ast.Call):
                name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
                for mod, flag, index, default in flags.get(name, []):
                    used.setdefault(f"{mod}.{name}.{flag}", set()).update(
                        _passed_values(call, index, flag, default)
                    )
    one_way = {
        f"{mod}.{name}.{flag}"
        for name, entries in flags.items()
        for mod, flag, _, _ in entries
        if used.get(f"{mod}.{name}.{flag}") != {True, False}
        and f"{mod}.{name}" not in _UNREACHED_FUNCS_ALLOWED
        and mod not in _UNREACHED_ALLOWED
    }
    unlisted = sorted(one_way - set(_ONE_WAY_FLAGS_ALLOWED))
    assert unlisted == [], (
        f"flags no call sets both ways: {unlisted} — delete the option, or "
        "allow it with a reason"
    )
    stale = sorted(set(_ONE_WAY_FLAGS_ALLOWED) - one_way)
    assert stale == [], f"allowlisted flags are used both ways or gone: {stale}"
