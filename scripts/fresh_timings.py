"""Cache-cleared per-query timings (round 19 — VERDICT r18 item 6).

For queries that share persisted intermediates, the bench's min-of-3
partially measures CacheManager plan-dedup cache reads across passes.
This script reports the number those minima cannot: ONE fresh
SparkSession subprocess per query, ONE timed pass, no warm-up — the
cold-plan, cold-cache cost a driver correctness run actually pays.

Usage: python scripts/fresh_timings.py [sf_dir] [out_json] [query ...]
Defaults: sf0.1, bench_fresh_timings.json, the persisted-subtree set.
A query that fails, or whose subprocess runs past ``TIMEOUT_S``, is
recorded as null (with a note on stderr) and the sweep goes on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: queries whose entries persist shared intermediates (the set VERDICT
#: r18 item 6 asks to restate cache-cleared)
DEFAULT_QUERIES = (
    "scd2_customer_history",
    "text_retrieval",
    "customer_dim_repair",
    "dedup_exact",
)

#: per-query subprocess budget; a query past it is recorded as null
TIMEOUT_S = 900

_CHILD = r"""
import sys, time
sys.path.insert(0, {repo!r})
from sales_analytics_etl_sql_powerbi_spark.session import get_spark
spark = get_spark(master="local[{cpus}]", shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
# session warmup only (JVM/Arrow init — session cost, not query cost;
# same shape as bench.py's untimed session warmers)
spark.range(10).count()
spark.range(1000).selectExpr("id", "cast(id as string) s").toPandas()
import __spark_entry__ as E
t0 = time.perf_counter()
E._RAW_QUERIES[{name!r}](spark, {sf!r}).toPandas()
print("FRESH_SEC", round(time.perf_counter() - t0, 3))
spark.stop()
"""


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "bench_fresh_timings.json")
    )
    names = sys.argv[3:] or list(DEFAULT_QUERIES)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    out: dict[str, float | None] = {}
    for name in names:
        code = _CHILD.format(repo=REPO, cpus=cpus, name=name, sf=sf)
        sec = None
        try:
            r = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                timeout=TIMEOUT_S,
            )
        except subprocess.TimeoutExpired:
            # a hung query must not abort the sweep: record null, go on
            print(f"{name}: timed out after {TIMEOUT_S} s", file=sys.stderr)
        else:
            for line in r.stdout.splitlines():
                if line.startswith("FRESH_SEC"):
                    sec = float(line.split()[1])
            if sec is None:
                print(r.stderr[-2000:], file=sys.stderr)
        out[name] = sec
        print(f"{name}: fresh_sec={sec}")
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf, "cpus": int(cpus), "fresh_sec": out}, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
