"""Seeded input generator: every snapshot and CSV batch the benchmark
feeds the package is a seeded sample of the package's sf0.1 testdata.

Layout under ``perfbench/.work/seed-<seed>/`` (gitignored):

- ``<kind>-s<seed>-<k>/`` — snapshot ``k`` of ``kind``: a seeded row
  sample of the tables ``SNAPSHOT_FRACTIONS`` names (``lineitem`` follows
  the order sample), the other tables linked (or copied) from sf0.1.
  Basenames are unique per (seed, kind, k) because
  ``sources.fixtures.ensure_order_export_csv`` keys its cache by basename;
- ``batches/batch-NNN.csv/part-0.csv`` — daily order-export batches
  written by DuckDB with the export SQL of ``sources.fixtures`` (same
  headers, same value dirt), each a run of order dates plus a seeded
  share of lines re-sent from earlier batches.

Sampled tables are written as ONE row group, like the source:
``readers.spread_scan`` and ``pipeline._bound_view_partitions`` choose
their plans from the row-group count, so a multi-group layout would
measure a different plan.

The generator runs in a process of its own (``run.py`` spawns it), so
its memory is not part of the measured process's high-water mark. The
same seed gives byte-identical files:

    python3 perfbench/inputs.py --seed N                 # regenerate seed N, print digests
    python3 perfbench/inputs.py --seed N bi:0 batches    # make what is missing
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: per-kind sample fractions of the source tables (absent = linked).
#: Embeddings are linked whole: the cost of ``ann_ivf_topk`` is bimodal
#: in the content of a 20% sample (0.8 or 2.1 CPU-s), so a sample would
#: let the seed, not the program, set the operator pass's cost
SNAPSHOT_FRACTIONS = {
    "bi": {"orders": 0.05},
    "ops": {"orders": 0.02, "part": 0.1, "documents": 0.1, "events": 0.1},
}

#: incremental-load batches: order dates per batch, re-sent line share
BATCH_DAYS, RESEND_FRAC, N_BATCHES = 7, 0.1, 32

#: what a full regeneration (``inputs.py --seed N``) makes and digests
ALL_NEEDS = ("bi:0", "bi:1", "bi:2", *(f"ops:{k}" for k in range(6)), "batches")


def source_dir() -> str:
    """sf0.1 of the package's testdata: the sibling of the directory the
    entry's oracle twins read by default."""
    import __spark_entry__ as entry

    os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
    return os.path.join(os.path.dirname(entry._oracle_sf_dir()), "sf0.1")


def seed_dir(seed: int) -> str:
    return os.path.join(WORK, f"seed-{seed}")


def path(seed: int, need: str) -> str:
    """Directory of ``need``: ``<kind>:<k>`` (a snapshot) or ``batches``."""
    if need == "batches":
        return os.path.join(seed_dir(seed), "batches")
    kind, k = need.split(":")
    return os.path.join(seed_dir(seed), f"{kind}-s{seed}-{k}")


def batch_dirs(seed: int) -> list[str]:
    """The incremental-load CSV batches of ``seed``, in load order."""
    out = path(seed, "batches")
    return [os.path.join(out, f"batch-{i:03d}.csv") for i in range(N_BATCHES)]


def generate(seed: int, needs) -> None:
    """Make the ``needs`` not made yet, in a child process."""
    todo = [n for n in needs if not os.path.exists(os.path.join(path(seed, n), "_DONE"))]
    if todo:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--seed", str(seed), *todo],
            check=True,
        )


def _rng(seed: int, *stream: int):
    import numpy as np

    return np.random.default_rng([seed, *stream])


def _snapshot(seed: int, need: str, src: str) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    kind, k = need.split(":")
    out = path(seed, need)
    frac = SNAPSHOT_FRACTIONS[kind]
    r = _rng(seed, 100 + list(SNAPSHOT_FRACTIONS).index(kind), int(k))
    tables = {}
    for name in frac:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        tables[name] = t.filter(pa.array(r.random(t.num_rows) < frac[name]))
    # lineitem follows the order sample; lines whose part was sampled
    # out stay, as dangling product keys the fact load filters
    li = pq.read_table(os.path.join(src, "lineitem.parquet"))
    tables["lineitem"] = li.filter(
        pc.is_in(li["l_orderkey"], value_set=tables["orders"]["o_orderkey"])
    )
    for name in TABLES:
        dest = os.path.join(out, f"{name}.parquet")
        if name in tables:
            t = tables[name]
            pq.write_table(t, dest, row_group_size=max(1, t.num_rows), compression="snappy")
        else:
            try:
                os.link(os.path.join(src, f"{name}.parquet"), dest)
            except OSError:  # another file system
                shutil.copyfile(os.path.join(src, f"{name}.parquet"), dest)


def _batches(seed: int, src: str) -> None:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from sales_analytics_etl_sql_powerbi_spark.sources.fixtures import _EXPORT_SQL

    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    try:
        con.execute("SET threads = 1")  # one writer: byte-stable CSV files
        lines = con.execute(
            "SELECT l.l_orderkey AS ok, l.l_linenumber AS ln, date_diff('day', "
            "min(o.o_orderdate::DATE) OVER (), o.o_orderdate::DATE) AS day "
            f"FROM '{src}/lineitem.parquet' l JOIN '{src}/orders.parquet' o "
            "ON l.l_orderkey = o.o_orderkey ORDER BY ok, ln"
        ).arrow()
        l_ok, l_ln = lines["ok"].to_numpy(), lines["ln"].to_numpy()
        l_day = lines["day"].to_numpy()
        r = _rng(seed, 200)
        d0 = int(r.integers(0, int(l_day.max()) + 1 - N_BATCHES * BATCH_DAYS))
        rows_b, rows_ids, rows_pos = [], [], []
        sent = np.zeros(0, dtype=np.int64)  # line row ids of earlier batches
        for i in range(N_BATCHES):
            lo = d0 + i * BATCH_DAYS
            new = np.flatnonzero((l_day >= lo) & (l_day < lo + BATCH_DAYS))
            n_re = min(len(sent), int(round(RESEND_FRAC * len(new))))
            resent = r.choice(sent, n_re, replace=False) if n_re else sent[:0]
            ids = np.concatenate([new, resent])
            rows_b.append(np.full(len(ids), i))
            rows_ids.append(ids)
            rows_pos.append(np.arange(len(ids)))
            sent = np.concatenate([sent, new])
        ids = np.concatenate(rows_ids)
        con.register("batch_keys", pa.table({
            "b": pa.array(np.concatenate(rows_b)),
            "ok": pc.cast(pa.array(l_ok[ids]), pa.string()),
            "ln": pc.cast(pa.array(l_ln[ids]), pa.string()),
            "pos": pa.array(np.concatenate(rows_pos)),
        }))
        con.execute(
            "CREATE TABLE ex AS SELECT e.*, k.b AS __b, k.pos AS __pos FROM ("
            + _EXPORT_SQL.format(sf=src)
            + ') e JOIN batch_keys k ON e."Order ID" = k.ok AND e." Line-Number " = k.ln'
        )
        for i, d in enumerate(batch_dirs(seed)):
            os.makedirs(d)
            con.execute(
                f"COPY (SELECT * EXCLUDE (__b, __pos) FROM ex WHERE __b = {i} "
                f"ORDER BY __pos) TO '{d}/part-0.csv' (HEADER, DELIMITER ',')"
            )
    finally:
        con.close()


def make(seed: int, need: str) -> str:
    """Make ``need`` in this process (unless made); returns its path."""
    out = path(seed, need)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if need == "batches":
        _batches(seed, source_dir())
    else:
        _snapshot(seed, need, source_dir())
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def digests(root: str) -> dict[str, str]:
    """sha256 of every file under ``root`` by relative path, plus
    ``"*"``: the digest of the whole listing."""
    out: dict[str, str] = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    out = dict(sorted(out.items()))
    out["*"] = hashlib.sha256(json.dumps(out).encode()).hexdigest()
    return out


def prune(keep_seed: int, keep: int = 3) -> None:
    """Drop the least recently used seed caches beyond ``keep``."""
    if not os.path.isdir(WORK):
        return
    seeds = [
        os.path.join(WORK, d)
        for d in os.listdir(WORK)
        if d.startswith("seed-") and d != f"seed-{keep_seed}"
    ]
    seeds.sort(key=os.path.getmtime, reverse=True)
    for d in seeds[keep - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("needs", nargs="*", help="<kind>:<k> snapshots or 'batches'")
    args = ap.parse_args()
    if args.needs:
        for need in args.needs:
            make(args.seed, need)
        return
    root = seed_dir(args.seed)
    shutil.rmtree(root, ignore_errors=True)
    for need in ALL_NEEDS:
        make(args.seed, need)
    d = digests(root)
    print(json.dumps({"seed": args.seed, "files": len(d) - 1, "digest": d["*"]}))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    main()
