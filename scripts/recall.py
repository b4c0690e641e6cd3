"""Measured ANN recall vs the brute-force baseline.

Recall@k for the LSH path (single- and multi-probe) and the IVF path
against `cosine_topk` ground truth on the real embeddings table —
the number that justifies calling ANN "the scale path": a bucketed
variant that silently returned garbage would still be fast.

Usage: python scripts/recall.py [sf_dir] [n_queries] [topk]
Prints one line per configuration; paste results into PLAN_AUDIT.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def recall(want: dict[int, set[int]], got: dict[int, set[int]]) -> float:
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(want[q]) for q in want)
    return hits / total


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    n_queries = int(args[1]) if len(args) > 1 else 50
    topk = int(args[2]) if len(args) > 2 else 10

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_planes = similarity.auto_n_planes(n)
    print(f"corpus={n} n_queries={n_queries} topk={topk} n_planes={n_planes}")

    t0 = time.perf_counter()
    want = topk_sets(
        similarity.cosine_topk(emb, n_queries=n_queries, topk=topk).collect()
    )
    print(f"brute: {time.perf_counter() - t0:.2f}s (ground truth)")

    for probes in (1, 2, 4, min(8, n_planes + 1)):
        t0 = time.perf_counter()
        got = topk_sets(
            similarity.ann_lsh_topk(
                emb, n_queries=n_queries, topk=topk, n_planes=n_planes, n_probes=probes
            ).collect()
        )
        print(
            f"lsh probes={probes}: recall@{topk}={recall(want, got):.3f} "
            f"({time.perf_counter() - t0:.2f}s)"
        )

    for n_clusters, nprobe in ((16, 1), (16, 2), (16, 4)):
        t0 = time.perf_counter()
        got = topk_sets(
            similarity.ann_ivf_topk(
                emb,
                n_queries=n_queries,
                topk=topk,
                n_clusters=n_clusters,
                nprobe=nprobe,
            ).collect()
        )
        print(
            f"ivf k={n_clusters} nprobe={nprobe}: "
            f"recall@{topk}={recall(want, got):.3f} "
            f"({time.perf_counter() - t0:.2f}s)"
        )


def minhash_main() -> None:
    """Measured MinHash-LSH banding curve vs TRUE-Jaccard ground truth
    (VERDICT r5 item 7): the _BANDS/_N_PERM defaults carry a measured
    precision/recall table instead of folklore.

    Ground truth = exact shingle-set Jaccard over ALL pairs (brute
    self-join — affordable at the harness SF, never in production).
    For each (bands, rows) split of the 16 permutations, candidate
    pairs come from the REAL banded equi-join, and we report recall
    (fraction of true pairs at each Jaccard threshold that are
    candidates) and precision proxy (fraction of candidates with
    J ≥ 0.5). Collision theory: P = 1 − (1 − J^rows)^bands.

    Usage: python scripts/recall.py --minhash [sf_dir]
    """
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_table(spark, sf_dir, "documents")
    n = docs.count()
    print(f"docs={n}")

    sets = dedup.shingle_sets(docs).persist()
    sets.count()
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("__sa")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("__sb")
    )
    t0 = time.perf_counter()
    truth = (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("__sa", "__sb"))
                / F.size(F.array_union("__sa", "__sb"))
            ).alias("j"),
        )
        .where(F.col("j") > 0)
    )
    truth_pairs = {(r.doc_a, r.doc_b): r.j for r in truth.collect()}
    print(
        f"ground truth: {len(truth_pairs)} nonzero-J pairs of {n*(n-1)//2} "
        f"({time.perf_counter() - t0:.1f}s, brute — harness only)"
    )
    thresholds = (0.3, 0.5, 0.7, 0.9)
    by_t = {
        t: {p for p, j in truth_pairs.items() if j >= t} for t in thresholds
    }
    print("true pairs per threshold:", {t: len(s) for t, s in by_t.items()})

    sig = dedup.minhash_signatures(docs).persist()
    sig.count()
    for bands, rows in ((16, 1), (8, 2), (4, 4), (2, 8)):
        t0 = time.perf_counter()
        cand = {
            (r.doc_a, r.doc_b)
            for r in dedup.lsh_candidate_pairs(
                sig, bands=bands, rows_per_band=rows
            ).collect()
        }
        rec = {
            t: (len(by_t[t] & cand) / len(by_t[t]) if by_t[t] else float("nan"))
            for t in thresholds
        }
        n_true_05 = len(by_t[0.5] & cand)
        prec = n_true_05 / len(cand) if cand else float("nan")
        print(
            f"bands={bands} rows={rows}: candidates={len(cand)} "
            + " ".join(f"recall@J≥{t}={rec[t]:.3f}" for t in thresholds)
            + f" precision(J≥0.5)={prec:.3f}"
            f" ({time.perf_counter() - t0:.1f}s)"
        )




def rp_main() -> None:
    """Random-projection SHORTLIST recall (round 10): for each
    (out_dim, shortlist multiplier), the fraction of brute-force
    top-k neighbors present in the RP top-(k*mult) shortlist - the
    number that sizes the rerank budget of a project->shortlist->
    exact-rerank pipeline. NOTE the synthetic embeddings are
    near-uniform random (cosines tightly clustered), the JL WORST
    case; structured corpora separate far better (planted-near-dup
    unit test).

    Usage: python scripts/recall.py --rp [sf_dir] [n_queries] [topk]
    """
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    topk = int(sys.argv[4]) if len(sys.argv) > 4 else 10

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    emb = read_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()
    print(f"corpus={n} n_queries={n_queries} topk={topk} (exact dim 64)")
    t0 = time.perf_counter()
    truth = topk_sets(
        similarity.cosine_topk(emb, n_queries=n_queries, topk=topk).collect()
    )
    t_exact = time.perf_counter() - t0
    print(f"brute-force baseline: {t_exact:.1f}s")
    for out_dim in (8, 16, 32):
        for mult in (1, 5, 20):
            t0 = time.perf_counter()
            short = topk_sets(
                similarity.rp_cosine_topk(
                    emb, out_dim=out_dim, n_queries=n_queries, topk=topk * mult
                ).collect()
            )
            dt = time.perf_counter() - t0
            print(
                f"out_dim={out_dim} shortlist={topk * mult}: "
                f"recall@{topk}={recall(truth, short):.3f} ({dt:.1f}s)"
            )


def rerank_main() -> None:
    """END-TO-END recall of the composed two-stage operator (round 11):
    shortlisted_cosine_topk (RP shortlist → exact rerank) vs brute
    force, at multiplier ∈ {2, 5, 10}. Differs from --rp in that the
    measured set is the FINAL top-k after exact rescoring — the number
    a user of the one-call operator actually gets. Same caveat: the
    synthetic corpus is near-uniform random, JL's worst case.

    Usage: python scripts/recall.py --rerank [sf_dir] [n_queries] [topk]
                                             [mult,mult,...] [inflate]
                                             [dim,dim,...]

    The session's Arrow batch cap is fixed at 10,000 rows
    (``get_spark(extra_conf=...)`` overrides it). On memory-tight
    single-node runs lower ``SPARK_DRIVER_MEM`` (the one JVM heap
    variable, read by ``session.get_spark``; default 8g) — the 32M
    straggler kill was the Python worker losing the box-OOM race to
    an 80g JVM.

    ``inflate`` > 1 unions (inflate−1) blocks of fully SYNTHETIC
    hash-random vectors (deterministic per (vec_id, dim) — near-
    uniform like the base corpus, no planted near-dups that would
    bias recall up) to extend the corpus-size axis of the scaling law
    past the sf sizes; queries stay the ORIGINAL vectors and truth is
    brute force over the inflated corpus.
    """
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    topk = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    mults = (
        [int(m) for m in sys.argv[5].split(",")]
        if len(sys.argv) > 5
        else [2, 5, 10]
    )
    inflate = int(sys.argv[6]) if len(sys.argv) > 6 else 1
    dims = (
        [int(d) for d in sys.argv[7].split(",")]
        if len(sys.argv) > 7
        else [16, 32]
    )

    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    emb = read_table(spark, sf_dir, "embeddings")
    if inflate > 1:
        n0 = emb.count()
        # xxhash64-mixed per (vec_id, dim) — a plain LCG progression
        # here puts the vectors on lattice lines and visibly distorts
        # the recall curve (measured: out_dim=16 plateaued at 0.355)
        synth = spark.range(n0, n0 * inflate).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 63), i -> cast("
                "(xxhash64(id, i) % 10007) / 5003.0 as float))"
            ).alias("embedding"),
        )
        emb = emb.select("vec_id", "embedding").unionByName(synth)
    emb = emb.persist()
    n = emb.count()
    print(f"corpus={n} n_queries={n_queries} topk={topk} (exact dim 64)")
    t0 = time.perf_counter()
    truth = topk_sets(
        similarity.cosine_topk(emb, n_queries=n_queries, topk=topk).collect()
    )
    t_exact = time.perf_counter() - t0
    print(f"brute-force baseline: {t_exact:.1f}s")
    for out_dim in dims:
        for mult in mults:
            t0 = time.perf_counter()
            got = topk_sets(
                similarity.shortlisted_cosine_topk(
                    emb,
                    out_dim=out_dim,
                    multiplier=mult,
                    n_queries=n_queries,
                    topk=topk,
                ).collect()
            )
            dt = time.perf_counter() - t0
            print(
                f"out_dim={out_dim} mult={mult}: "
                f"end-to-end recall@{topk}={recall(truth, got):.3f} ({dt:.1f}s)"
            )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--minhash":
        minhash_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--rp":
        rp_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--rerank":
        rerank_main()
    else:
        main()
