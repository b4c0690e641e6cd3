"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Generates the inputs of seed N in a
child process (see ``inputs.py``), starts the package's Spark session,
sets the workload up, runs its ops for S seconds, checks the outputs,
and prints one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
(set-up wall time, and the median CPU time of an op, which this shared
host's slow periods move far less than an op's wall time);
with ``--trace 1`` they are the per-layer ones, from a run whose odd
ops are traced (the even ops stay untraced, so the tracing overhead is
measured in the same run) and the spans are written to
``perfbench/.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

#: session conf added on top of ``session.get_spark``: the UI and its
#: REST retention (the per-layer cost source), synchronous status
#: tracking (REST reads see every finished job), a driver heap sized
#: for a 15 GB / 4-core host, JVM temp files kept in the checkout, and
#: a fixed set of JIT compiler threads (``tree_cpu_s`` leaves them out)
EXTRA_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.appStateStore.asyncTracking.enable": "false",
    "spark.driver.memory": "2g",
    "spark.driver.extraJavaOptions": (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    ),
}

END_TO_END = {"setup_s": "s", "op_cpu_s_p50": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, across all workloads."""
    from perfbench import workloads as w

    def layer(names):
        return {
            f"{n}.{k}": u
            for n in names
            for k, u in (("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
                         ("shuffle_bytes", "bytes"))
        }

    units = {"op_s_p50": "s"}
    units |= layer(w.STAR_LAYERS) | {"star.driver_gap_s": "s"}
    units |= layer(("analytics",))
    units |= {f"analytics.{v}.ms_p50": "ms" for v in w.VISUALS}
    units |= {
        "scheduler.launch_wait_ms": "ms", "cache.view_mem_frac": "ratio",
        "bi.page_ms_p90": "ms", "bi.visual_ms_p50": "ms",
    }
    units |= layer(w.IncrementalLoad.LAYERS)
    units |= {
        "sinks.bytes_written_per_input_byte": "ratio", "sinks.files_per_batch": "count",
        "sinks.key_scan_bytes": "bytes", "dims.new_key_frac": "ratio",
        "load.batch_s_growth": "ratio",
    }
    units |= layer(tuple(f"ops.{f}" for f in w.FAMILIES))
    units |= {f"entry.{n}.s": "s" for names in w.FAMILIES.values() for n in names}
    for f in w.FAMILIES:
        units |= {f"{f}.python_worker_s": "s", f"{f}.driver_gap_s": "s", f"{f}.eager_jobs": "count"}
    units |= {
        "spark.failed_tasks": "count", "spark.stage_retries": "count",
        "spark.gc_s": "s", "trace.overhead_frac": "ratio",
    }
    return units


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process or thread has ended
        return ""


def _cpu_ticks(stat: str, reaped: bool) -> int:
    """utime + stime (+ cutime + cstime when ``reaped``) of a /proc stat."""
    f = stat.rsplit(")", 1)[-1].split()
    return sum(int(x) for x in f[11:15 if reaped else 13]) if len(f) > 14 else 0


#: JVM pid → the tids of its JIT compiler threads (fixed for the JVM's
#: life by ``-XX:-UseDynamicNumberOfCompilerThreads``)
_COMPILERS: dict[int, list[int]] = {}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant (the JVM and its Python workers, reaped children
    included), less the JVM's JIT compiler threads: compilation is the
    runtime warming up, and its bursts land on ops at random. Steal
    time is not in it."""
    stats, kids = {}, {}
    for d in os.listdir("/proc"):
        stat = _read(f"/proc/{d}/stat") if d.isdigit() else ""
        if stat:
            stats[int(d)] = stat
            kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(d))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += _cpu_ticks(stats[pid], reaped=True)
        todo += kids.get(pid, [])
        if pid not in _COMPILERS and _read(f"/proc/{pid}/comm").strip() == "java":
            _COMPILERS[pid] = [
                int(t)
                for t in os.listdir(f"/proc/{pid}/task")
                if _read(f"/proc/{pid}/task/{t}/comm").startswith(("C1 Compiler", "C2 Compiler"))
            ]
        for tid in _COMPILERS.get(pid, ()):
            ticks -= _cpu_ticks(_read(f"/proc/{pid}/task/{tid}/stat"), reaped=False)
    return ticks / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from perfbench import inputs, tracing, workloads  # noqa: E402
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import the package by path, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    # inputs: generated (or reused from the per-seed cache) in a child
    # process before the session starts, and subtracted from setup_s
    wl = workloads.WORKLOADS[args.workload]()
    g0 = time.perf_counter()
    inputs.prune(args.seed)
    inputs.generate(args.seed, wl.INPUTS)
    gen_s = time.perf_counter() - g0

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=EXTRA_CONF)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(10).count()
        spark.range(1000).selectExpr("id", "cast(id AS string) s").toPandas()
        tracer = tracing.Tracer(spark, enabled=False)
        ctx = workloads.Ctx(spark, tracer, args.seed)
        if hasattr(wl, "warm_up"):
            wl.warm_up(ctx)
        session_s = time.perf_counter() - T_START - gen_s

        setups = []
        for r in range(workloads.SETUP_REPEATS):
            # a traced run traces the last set-up of a workload whose
            # set-up is a measured layer (the star load of bi_dashboard)
            tracer.enabled = bool(
                args.trace and r == workloads.SETUP_REPEATS - 1 and getattr(wl, "TRACE_SETUP", False)
            )
            t0 = time.perf_counter()
            wl.setup(ctx, r)
            setups.append(time.perf_counter() - t0)
            tracer.enabled = False
        setup_s = session_s + workloads.p50(setups)

        attempted = failed = 0
        # traced runs alternate untraced (even) and traced (odd) ops and
        # need two of each for the overhead
        min_ops = max(getattr(wl, "MIN_OPS", 1), 4 if args.trace else 1)
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i < min_ops or time.perf_counter() < deadline:
            p0 = time.perf_counter()
            try:
                arg = wl.prepare(ctx, i)
            except StopIteration:
                break
            deadline += time.perf_counter() - p0  # input prep is not measured
            traced = bool(args.trace and i % 2)
            tracer.enabled = traced
            attempted += 1
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("op", index=i) as op:
                    wl.op(ctx, i, arg)
                ctx.op_walls[traced].append(time.perf_counter() - t0)
                ctx.op_cpus[traced].append(tree_cpu_s() - c0)
                if op is not None:
                    ctx.op_spans.append(op)
            except Exception:
                failed += 1
                workloads.log_failure(f"{args.workload} op {i}")
            f0 = time.perf_counter()
            wl.finish_op(ctx, i, arg)
            tracer.enabled = False
            deadline += time.perf_counter() - f0
            i += 1

        k0 = time.perf_counter()
        errors = wl.check(ctx)
        check_s = time.perf_counter() - k0
        for e in errors:
            print(f"[perfbench] check failed: {e}", file=sys.stderr)

        if args.trace:
            ctx.rest = tracing.rest_snapshot(spark)
            metrics = wl.layers(ctx) | workloads.runtime_metrics(ctx)
            metrics["op_s_p50"] = workloads.p50(ctx.op_walls[False])
            units = per_layer_units()
            values = {k: metrics.get(k, 0) for k in units}
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({
                    "workload": args.workload, "seed": args.seed,
                    "ops": [tracer.op_account(op) for op in ctx.op_spans],
                    "untraced_op_s": ctx.op_walls[False],
                    "traced_op_s": ctx.op_walls[True],
                    "metrics": values,
                    "spans": [s.as_dict() for s in tracer.spans],
                }, f, indent=1)
        else:
            units = END_TO_END
            values = {
                "setup_s": setup_s,
                "op_cpu_s_p50": workloads.p50(ctx.op_cpus[False]),
            }
        print(
            f"[perfbench] {args.workload} seed={args.seed} gen_s={gen_s:.2f} "
            f"session_s={session_s:.2f} setups={[round(s, 2) for s in setups]} "
            f"ops={attempted} op_s={[round(s, 3) for s in ctx.op_walls[False]]} "
            f"op_cpu={[round(s, 2) for s in ctx.op_cpus[False]]} "
            f"jit_threads={sum(map(len, _COMPILERS.values()))} "
            f"check_s={check_s:.2f} wall_s={time.perf_counter() - T_START:.2f}",
            file=sys.stderr,
        )
        if hasattr(wl, "close"):
            wl.close()
    finally:
        _stop(spark)

    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
