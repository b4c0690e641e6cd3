"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given SF dir, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet (tables
pre-registered as views, as the driver does), and compares:

- row count
- schema (column names, sorted)
- order-insensitive value hash (rows stringified with stable float
  formatting, sorted, md5)

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full precision: the driver's hash sees exact values, so any
        # cross-engine double difference must fail HERE first
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_fmt(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # oracle side-inputs (CSV fixture, trained codebook/plane constants)
    # must derive from the SAME corpus being swept — see
    # __spark_entry__._oracle_sf_dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.abspath(sf_dir)

    import duckdb

    import __spark_entry__ as entrymod
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    spark = get_spark(
        app_name="check-correctness", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            sh = frame_digest(scols, [tuple(r) for r in srows])
            oh = frame_digest(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show first differing line for debugging
                so = sorted(
                    "\x1f".join(
                        _fmt(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in [tuple(x) for x in srows]
                )
                oo = sorted(
                    "\x1f".join(
                        _fmt(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                )
                for a, b in zip(so, oo):
                    if a != b:
                        problems.append(f"  spark: {a[:200]}")
                        problems.append(f"  duck : {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            n_fail += 1
        else:
            print(f"ok   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
