"""Capture ``.explain("formatted")`` for every declared query.

Writes one file per query to the given output directory
(``plans/r18`` by default) with suffix ``_before.txt`` / ``_after.txt``
(second arg). Plans are captured BEFORE execution (AQE initial plan)
— that is the code-determined shape: Exchange count, join strategy,
PushedFilters/ReadSchema, Python-eval nodes.

Usage: python scripts/capture_plans.py <suffix> [outdir] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r18"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])
    os.makedirs(outdir, exist_ok=True)

    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    spark = get_spark(app_name="spark-graft-plans")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    for name, fn in entrymod._RAW_QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 — capture what failed, keep going
            plan = f"ERROR capturing plan: {e!r}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
