"""Idle-box minima for individual bench queries.

Bench totals on this box swing ±20%+ (PLAN_AUDIT.md variance note), so
regression claims must rest on per-query MINIMA over repeated runs,
not single readings. This runner times the named `_RAW_QUERIES`
entries N times each — same session settings and Arrow-toPandas
client path as bench.py — and prints min / median / all readings.

Usage: python scripts/minima.py [sf_dir] [repeats] query [query ...]
Run ONLY on an otherwise-idle box (local[32] fights for cores).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    repeats = int(args.pop(0)) if args and args[0].isdigit() else 3
    names = args
    if not names:
        print("usage: minima.py [sf_dir] [repeats] query [query ...]")
        raise SystemExit(2)

    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    spark = get_spark(app_name="spark-graft-minima")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # same warmup as bench.py: JVM/codegen/Arrow init is session cost
    spark.range(10).count()
    spark.range(1000).selectExpr("id", "cast(id as string) s").toPandas()

    raw = dict(entrymod._RAW_QUERIES)

    # composite bench lines not present in _RAW_QUERIES (round 11):
    # pipeline_build is bench.py's star-materialization step — timed
    # the same way (persist + count inside the clock), unpersisted
    # BETWEEN repeats so every reading rebuilds from parquet
    def _pipeline_build(spark, sf_dir):
        from pyspark.storagelevel import StorageLevel

        from sales_analytics_etl_sql_powerbi_spark import pipeline

        view = pipeline.star(spark, sf_dir)["view"].persist(
            StorageLevel.MEMORY_AND_DISK
        )
        view.count()
        return view  # caller unpersists outside the clock

    raw.setdefault("pipeline_build", _pipeline_build)

    unknown = [n for n in names if n not in raw]
    if unknown:
        print(f"unknown queries: {unknown}; known: {sorted(raw)}")
        raise SystemExit(2)
    for name in names:
        fn = raw[name]
        readings = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            out = fn(spark, sf_dir)
            if name != "pipeline_build":
                out.toPandas()
            readings.append(round(time.perf_counter() - t0, 3))
            if name == "pipeline_build":
                out.unpersist(blocking=True)
        print(
            f"{name}: min={min(readings):.3f}s "
            f"median={statistics.median(readings):.3f}s all={readings}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
