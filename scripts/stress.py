"""Scale-stress probe: run the star pipeline on 10× sf0.1 (~6M lines).

Reads the sf0.1 lineitem and unions it 10× with offset order keys —
a cheap in-memory stand-in for sf1 — then times the star build and two
BI queries. The point is plan shape under 10× data: broadcasts must
stay broadcasts, no task should straggle.

Usage: python scripts/stress.py [multiplier]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _session(app: str, partitions: int, extra_conf: dict[str, str] | None = None):
    """A probe's session: ``session.get_spark`` on ``local[32]``, quiet
    and warmed by one trivial job. The probes were sized for a 24g
    driver heap: run them with ``SPARK_DRIVER_MEM=24g``."""
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        master="local[32]",
        shuffle_partitions=partitions,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    return spark


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.storagelevel import StorageLevel

    spark = _session("stress", 32)

    from sales_analytics_etl_sql_powerbi_spark import pipeline
    from sales_analytics_etl_sql_powerbi_spark.operators import analytics

    # lineitem ×mult (same order keys — each order gets mult× the lines,
    # so the fact side scales while the dim joins stay valid)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big_li = li
    for _ in range(mult - 1):
        big_li = big_li.unionByName(li)
    big_li = big_li.persist(StorageLevel.MEMORY_AND_DISK)
    n = big_li.count()
    print(f"lineitem rows: {n}")

    # patch the reader to serve the big lineitem
    from sales_analytics_etl_sql_powerbi_spark.sources import readers

    orig = readers.read_table

    def patched(spark_, sf_, name):
        if name == "lineitem":
            return big_li
        return orig(spark_, sf_, name)

    readers.read_table = patched
    pipeline.read_table = patched

    t0 = time.time()
    s = pipeline.star(spark, sf_dir)
    view = s["view"].persist(StorageLevel.MEMORY_AND_DISK)
    nv = view.count()
    print(f"star build + view materialize ({nv} rows): {time.time()-t0:.1f}s")

    for name, fn in [
        ("state_leaderboard", analytics.exec_overview_states),
        ("platform_share", analytics.platform_share),
    ]:
        t0 = time.time()
        fn(view).collect()
        print(f"{name}: {time.time()-t0:.2f}s")

    # join strategy audit under 10x data
    plan = analytics.exec_overview_states(view)._jdf.queryExecution().executedPlan().toString()
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    print(f"plan joins: broadcast={n_bhj} sortmerge={n_smj}")


def docs_main() -> None:
    """Documents-corpus scaling: the minhash/LSH near-dup curve.

    Unions the sf0.1 documents table mult× with offset doc_ids and
    per-copy text salt (copies must NOT be mutual duplicates — an
    all-dup corpus degenerates to O(copies²) pairs, which is a corpus
    property, not an engine one). Times signatures and the full
    LSH+verify pair pipeline at each scale.
    """
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-docs", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n0 = docs.count()
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * n0)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" c{i}")).alias("text"),
        )
        for i in range(mult)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big = big.repartition(64).persist(StorageLevel.MEMORY_AND_DISK)
    n = big.count()
    print(f"documents rows: {n}")

    t0 = time.time()
    nsig = dedup.minhash_signatures(big).count()
    print(f"minhash_signatures ({nsig} rows): {time.time()-t0:.1f}s")

    t0 = time.time()
    pairs = dedup.neardup_pairs(big)
    npairs = pairs.count()
    print(f"neardup_pairs ({npairs} pairs): {time.time()-t0:.1f}s")

    t0 = time.time()
    stats: list = []
    clusters = dedup.neardup_clusters(big, threshold=0.8, round_stats=stats)
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(f"neardup_clusters ({n_clusters} clusters over {n} docs): {time.time()-t0:.1f}s")
    for r, changed, secs in stats:
        print(f"  round {r}: changed={changed} secs={secs:.2f}")

    # benchmark decontamination: a 1% corpus slice plays the eval set
    from sales_analytics_etl_sql_powerbi_spark.operators import text as text_ops

    bench = big.where(F.col("doc_id") % 100 == 0)
    t0 = time.time()
    flagged = (
        text_ops.decontaminate(big, bench)
        .where(F.col("contaminated"))
        .count()
    )
    print(f"decontaminate ({flagged} contaminated of {n}): {time.time()-t0:.1f}s")

    leftover = spark.sparkContext._jsc.getPersistentRDDs().size()
    print(f"persistent storage entries after run: {leftover}")


def events_main() -> None:
    """Events-corpus scaling: as-of join + event-time windows.

    Unions the sf0.1 events table mult× with offset event_ids and
    jittered user_ids (user cardinality grows with the corpus so the
    per-user window state stays bounded — the realistic shape).
    """
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-events", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators.asof import (
        events_asof_directions,
    )
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_events
    from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

    ev = read_events(spark, sf_dir)
    n0 = ev.count()
    n_users = ev.select("user_id").distinct().count()
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(i * n0)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * n_users)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(mult)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big = big.repartition(64).persist(StorageLevel.MEMORY_AND_DISK)
    n = big.count()
    print(f"events rows: {n}")

    for name, fn in [
        ("events_asof", events_asof_directions),
        ("tumbling", W.tumbling_counts),
        ("sessions", W.session_windows),
    ]:
        t0 = time.time()
        cnt = fn(big).count()
        print(f"{name} ({cnt} rows): {time.time()-t0:.1f}s")


def skew_main() -> None:
    """AQE skew-join probe: one hot key carrying ~half the fact rows.

    The realistic shape behind the reference's numbers (Amazon ~56% of
    units, FL ~10% of states): a shuffle join where one key's partition
    dwarfs the rest. Verifies AQE's skew-join splitting actually
    engages (`isSkew=true` in the final adaptive plan) and the join
    finishes without a straggler dominating wall-clock.
    """
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000

    from pyspark.sql import functions as F

    spark = _session(
        "stress-skew",
        64,
        {
            # force the shuffle path: a broadcast join would hide the skew
            # (AQE has its own runtime broadcast threshold — disable both)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )

    # ~50% of rows share key 0; the rest spread over 100k keys
    fact = spark.range(n_rows).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 100_000)
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
        # widen rows so the hot partition crosses the skew threshold
        F.repeat(F.concat(F.lit("pad-"), F.col("id").cast("string")), 8).alias("pad"),
    )
    dim = spark.range(100_000).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id").cast("string")).alias("attr")
    )

    # Downstream shape matters: a groupBy on the JOIN KEY would reuse
    # the join's hash distribution, and AQE then declines to split the
    # skewed partition (splitting would force a re-shuffle; override
    # exists via spark.sql.adaptive.forceOptimizeSkewedJoin). A global
    # aggregate — or any consumer without a same-key distribution
    # requirement, e.g. a write — lets the split happen. Probed both;
    # asserting on the shape where the optimization applies.
    joined = fact.join(dim, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    t0 = time.time()
    row = joined.collect()[0]
    dt = time.time() - t0
    print(f"skew join+agg over {n_rows} rows: {dt:.1f}s; joined rows: {row.n}")

    # read the plan from the EXECUTED frame — AQE's skew decision only
    # exists in the final adaptive plan, after runtime stats arrive
    plan = joined._jdf.queryExecution().executedPlan().toString()
    skew_marks = plan.count("skew=true") + plan.count("and skewed")
    print(f"final adaptive plan skew-split markers: {skew_marks}")
    assert "isFinalPlan=true" in plan, "plan was not executed adaptively"
    assert skew_marks > 0, "AQE skew splitting did not engage — check thresholds"


def state_main() -> None:
    """Streaming state-scale probe: applyInPandasWithState key curve.

    The custom stateful operator pays a per-KEY Python cost every
    micro-batch (one pandas frame per group through Arrow), unlike the
    JVM-side built-in windows — this probe measures that curve so the
    "use built-ins when expressible" guidance has a number attached.
    Generates N events over K users in F source files, runs
    `running_totals_stateful` availableNow (F/2 micro-batches), and
    checks the final state exactly: K state rows, latest per-user
    counts summing to N (cross-batch accumulation correct at scale).

    Usage: stress.py --state [n_events] [n_keys]
    """
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    n_keys = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    spark = _session("stress-state", 64)

    from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

    root = tempfile.mkdtemp(prefix="state_probe_")
    src = f"{root}/src"
    try:
        (
            spark.range(n_events)
            .select(
                (F.col("id") % n_keys).alias("user_id"),
                (F.col("id") % 997).cast("double").alias("value"),
            )
            .repartition(8)
            .write.parquet(src)
        )
        schema = "user_id bigint, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "4")
            .parquet(src)
        )
        t0 = time.time()
        q = (
            W.running_totals_stateful(stream)
            .writeStream.format("memory")
            .queryName("state_probe_out")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow + ProcessingTimeTimeout does NOT terminate when
        # the data is drained: Spark keeps scheduling EMPTY micro-batches
        # (~1.5s each) until every pending state timeout has fired — with
        # the operator's 30-minute default that is ~30 minutes of idle
        # spinning (observed: 198+ empty batches before this guard was
        # added). Stop manually once two consecutive progresses report
        # zero input rows.
        idle = 0
        seen: set = set()
        while q.isActive and idle < 2:
            time.sleep(2)
            for p in q.recentProgress:
                bid = p["batchId"]
                if bid in seen:
                    continue
                seen.add(bid)
                idle = idle + 1 if p["numInputRows"] == 0 else 0
        if q.isActive:
            q.stop()
        q.awaitTermination(60)
        dt = time.time() - t0
        prog = q.lastProgress or {}
        sops = prog.get("stateOperators") or [{}]
        print(
            f"stateful availableNow over {n_events} events / {n_keys} keys: "
            f"{dt:.1f}s ({n_events / dt:,.0f} events/s)"
        )
        print(
            f"  state rows: {sops[0].get('numRowsTotal')}, "
            f"state memory: {sops[0].get('memoryUsedBytes', 0) / 1e6:.1f} MB"
        )
        final = (
            spark.table("state_probe_out")
            .groupBy("user_id")
            .agg(F.max("event_count").alias("cnt"))
        )
        agg = final.agg(
            F.count(F.lit(1)).alias("k"), F.sum("cnt").alias("n")
        ).collect()[0]
        print(f"  final keys: {agg.k}, accumulated events: {agg.n}")
        assert agg.k == n_keys, "lost state keys"
        assert agg.n == n_events, "cross-batch accumulation lost events"

        # JVM-side contrast: the same totals as a batch aggregate
        t0 = time.time()
        spark.read.parquet(src).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("c"), F.sum("value")
        ).agg(F.sum("c")).collect()
        print(f"  batch groupBy twin (JVM, whole input): {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def vectors_main() -> None:
    """Embedding-corpus scaling: LSH buckets, ANN, and near-dup curves.

    Unions the sf0.1 embeddings table mult× (default 100 → ~200k
    vectors) with offset vec_ids and a per-copy, index-dependent
    perturbation so copies are NOT mutual near-duplicates (an all-dup
    corpus degenerates to O(copies²) pairs — a corpus property, not an
    engine one). Exercises the pieces small-SF correctness can't see:
    `auto_n_planes` past its lower clamp (200k vectors → 11 planes →
    2048 buckets), bucket-occupancy balance under the real hyperplanes,
    the IVF path at a √N-scaled cluster count (the probe routing's
    plan stays ONE distance expression however big k gets), and the
    candidate equi-joins staying output-bound. Prints the brute-force
    baseline time for the ANN-vs-exact contrast at the same N.
    """
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-vectors", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n0 = emb.count()
    # Per-(copy, vector, dimension) decorrelated perturbation, uniform
    # ±0.2 — comparable to the data scale (std ≈ 0.125), so every copy
    # of every vector drifts in its own direction and hyperplane
    # buckets keep the base corpus's balance. Two wrong generators
    # found the hard way: a copy-scaled shared drift funnels MOST of
    # the corpus into one bucket (21e9 in-bucket pair evals), and a
    # per-(copy, dim)-only hash gives all vectors of a copy the SAME
    # delta vector — each copy becomes its own tight cluster (max
    # occupancy 3492 vs median 16). Both are corpus properties, not
    # engine ones — same rule as docs_main's "copies must NOT be
    # mutual dups".
    def perturbed(i: int):
        if i == 0:
            return F.col("embedding")
        return F.transform(
            "embedding",
            lambda x, j: (
                x
                + (
                    (
                        (
                            F.lit(i * 1_000_003)
                            + (j + 1) * 7919
                            + F.col("vec_id") * 104_729
                        )
                        % 1000
                    )
                    / 1000.0
                    - 0.5
                )
                * 0.4
            ).cast("float"),
        )

    parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * n0)).alias("vec_id"),
            perturbed(i).alias("embedding"),
        )
        for i in range(mult)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big = big.repartition(64).persist(StorageLevel.MEMORY_AND_DISK)
    n = big.count()
    print(f"embedding rows: {n} (dim 64)")

    n_planes = S.auto_n_planes(n)
    print(f"auto_n_planes({n}) = {n_planes} -> {2**n_planes} buckets")

    t0 = time.time()
    b = S.lsh_buckets(big, n_planes)
    occ = (
        b.groupBy("bucket")
        .count()
        .agg(
            F.count(F.lit(1)).alias("filled"),
            F.max("count").alias("max_occ"),
            F.expr("percentile_approx(count, 0.5)").alias("med_occ"),
        )
        .collect()[0]
    )
    print(
        f"lsh_buckets: {time.time()-t0:.1f}s; filled {occ.filled}/{2**n_planes},"
        f" max occupancy {occ.max_occ}, median {occ.med_occ}"
    )

    t0 = time.time()
    nres = S.ann_lsh_topk(big).count()
    print(f"ann_lsh_topk ({nres} rows): {time.time()-t0:.1f}s")

    t0 = time.time()
    npairs = S.embedding_neardup_pairs(big, threshold=0.9).count()
    print(f"embedding_neardup_pairs ({npairs} pairs): {time.time()-t0:.1f}s")

    # IVF with a sqrt(N)-ish codebook — the documented scale rule
    k = 1 << max(4, int(round(0.5 * (n.bit_length() - 1))))  # ~sqrt(N), pow2
    t0 = time.time()
    nivf = S.ann_ivf_topk(big, n_clusters=k, nprobe=max(4, k // 16)).count()
    print(f"ann_ivf_topk k={k} ({nivf} rows): {time.time()-t0:.1f}s")

    t0 = time.time()
    nbrute = S.cosine_topk(big).count()
    print(f"brute cosine_topk baseline ({nbrute} rows): {time.time()-t0:.1f}s")

    # int8 scalar quantization (round 7): recall@10 of the compressed
    # ranking vs the float ranking, plus the measured bytes ratio —
    # the 4× bandwidth claim, verified on disk not just in theory
    t0 = time.time()
    exact_top = {
        (r.query_id, r.vec_id) for r in S.cosine_topk(big, topk=10).collect()
    }
    int8_top = {
        (r.query_id, r.vec_id)
        for r in S.int8_cosine_topk(big, topk=10).collect()
    }
    recall = len(exact_top & int8_top) / max(len(exact_top), 1)
    print(
        f"int8_cosine_topk: recall@10 vs float = {recall:.3f} "
        f"({time.time()-t0:.1f}s both rankings)"
    )
    import tempfile

    with tempfile.TemporaryDirectory(prefix="int8-") as td:
        big.select("vec_id", "embedding").write.mode("overwrite").parquet(
            f"{td}/f32"
        )
        S.quantize_int8(big).select("vec_id", "codes", "q_scale").write.mode(
            "overwrite"
        ).parquet(f"{td}/int8")
        import glob

        def parquet_bytes(d):
            return sum(os.path.getsize(f) for f in glob.glob(f"{d}/*.parquet"))

        f32_b = parquet_bytes(f"{td}/f32")
        i8_b = parquet_bytes(f"{td}/int8")
        print(
            f"int8 storage: {f32_b / 1e6:.1f} MB float32 -> "
            f"{i8_b / 1e6:.1f} MB codes+scale ({f32_b / max(i8_b, 1):.2f}x)"
        )

    # amortized serving: materialize the index ONCE, then repeated query
    # batches pay only the bucket equi-join — the number behind the
    # index/query split's existence
    t0 = time.time()
    index = S.ann_index(big, n_planes).persist(StorageLevel.MEMORY_AND_DISK)
    index.count()
    print(f"ann_index materialize (one-time): {time.time()-t0:.1f}s")
    per_batch = []
    for i in range(5):
        qb = big.where((F.col("vec_id") >= i * 5) & (F.col("vec_id") < i * 5 + 5))
        t0 = time.time()
        S.ann_query(index, qb, n_planes, topk=5).count()
        per_batch.append(time.time() - t0)
    print(
        "ann_query per 5-query batch over materialized index: "
        + ", ".join(f"{s_:.2f}s" for s_ in per_batch)
        + f" (min {min(per_batch):.2f}s)"
    )
    index.unpersist()

    # IVF twin of the same amortization: codebook + celled corpus once,
    # then per-batch probe-routing + cell equi-join
    t0 = time.time()
    cb = S.ivf_codebook(big, n_clusters=k)
    ivf_ix = S.ivf_index(big, cb).persist(StorageLevel.MEMORY_AND_DISK)
    ivf_ix.count()
    print(f"ivf codebook+index materialize (one-time, k={k}): {time.time()-t0:.1f}s")
    per_batch = []
    for i in range(5):
        qb = big.where((F.col("vec_id") >= i * 5) & (F.col("vec_id") < i * 5 + 5))
        t0 = time.time()
        S.ivf_query(ivf_ix, qb, cb, nprobe=max(4, k // 16), topk=5).count()
        per_batch.append(time.time() - t0)
    print(
        "ivf_query per 5-query batch over materialized index: "
        + ", ".join(f"{s_:.2f}s" for s_ in per_batch)
        + f" (min {min(per_batch):.2f}s)"
    )
    ivf_ix.unpersist()

    # plan hygiene at scale: candidate generation must stay equi-join
    for name, df in (
        ("ann_lsh_topk", S.ann_lsh_topk(big)),
        ("neardup_pairs", S.embedding_neardup_pairs(big, threshold=0.9)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} went all-pairs"
        print(f"plan[{name}]: no cartesian; "
              f"{plan.count('BroadcastHashJoin')} broadcast joins")

    leftover = spark.sparkContext._jsc.getPersistentRDDs().size()
    print(f"persistent storage entries after run: {leftover}")


def rules_main() -> None:
    """Rules-engine scaling: the 8 chained reference passes over a
    10M-row product master.

    The claim under test (SURVEY §2.8): apply_passes compiles to
    chained projections that Catalyst fuses into ONE whole-stage-
    codegen span over the scan — zero shuffles, zero extra passes,
    however many rule passes are stacked. Names/SKUs cycle through the
    reference keyword vocabulary so every CASE chain actually fires.
    """
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000

    from pyspark.sql import functions as F

    spark = _session("stress-rules", 32)

    import __spark_entry__ as entry
    from sales_analytics_etl_sql_powerbi_spark.operators.rules import (
        REFERENCE_CATEGORY_PASSES,
        REFERENCE_SUBCATEGORY_PASSES,
        apply_passes,
    )

    k = F.col("id")
    sku = None
    for i, pfx in enumerate(entry._REF_SKU_PREFIXES):
        b = F.concat(F.lit(pfx), k.cast("string"))
        sku = F.when(k % 11 == i, b) if sku is None else sku.when(k % 11 == i, b)
    names = F.array(*[F.lit(nm) for nm in entry._REF_RULE_NAMES])
    master = spark.range(n_rows).select(
        k.alias("product_id"),
        sku.otherwise(F.concat(F.lit("PK"), k.cast("string"))).alias("main_sku_code"),
        F.element_at(names, (k % len(entry._REF_RULE_NAMES) + 1).cast("int")).alias(
            "english_name"
        ),
    )

    passes = REFERENCE_CATEGORY_PASSES + REFERENCE_SUBCATEGORY_PASSES
    out = apply_passes(master, passes)
    t0 = time.time()
    counts = (
        out.groupBy("category").agg(F.count(F.lit(1)).alias("n")).orderBy("category")
    ).collect()
    dt = time.time() - t0
    total = sum(r.n for r in counts)
    print(f"rules over {total} rows, {len(passes)} passes: {dt:.1f}s")
    for r in counts:
        print(f"  {r.category}: {r.n}")

    plan = out._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators print with a '*(stage)' prefix in toString
    n_cg = plan.count("*(")
    stages = {
        plan[i + 2 : plan.index(")", i)] for i in range(len(plan)) if plan.startswith("*(", i)
    }
    n_ex = plan.count("Exchange")
    print(
        f"plan: codegen'd operators={n_cg} in {len(stages)} span(s), exchanges={n_ex}"
    )
    assert n_ex == 0, "rule projection chain must not shuffle"
    assert len(stages) == 1, "rule chain must fuse into ONE codegen span"


def scd2_main() -> None:
    """SCD2 scale probe (VERDICT r5 item 4): 10M-row dim × 1M-row
    change batch.

    Change mix mirrors production: ~45% real changes, ~45% no-ops
    (values equal the current row — change detection must drop them),
    ~10% brand-new keys. Measures scd2_apply (lax + strict) and a
    2M-probe point-in-time lookup; asserts the apply plan carries no
    Window (no sort over the full dim) and no nested-loop join.
    """
    dim_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    chg_n = dim_n // 10

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-scd2", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import (
        SCD2_END_OF_TIME,
        scd2_apply,
        scd2_lookup,
    )

    state = F.concat(
        F.chr(F.lit(65) + F.col("id") % 26), F.chr(F.lit(65) + (F.col("id") * 7) % 26)
    )
    dim = (
        spark.range(dim_n)
        .select(
            F.col("id").alias("customer_id"),
            state.alias("state_code"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
            F.lit(SCD2_END_OF_TIME).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    print(f"dim rows: {dim.count()}")
    # keys stride 10 over the dim; id%10==9 keys land beyond dim_n (new)
    ckey = F.when(
        F.col("id") % 10 == 9, F.lit(dim_n) + F.col("id")
    ).otherwise(F.col("id") * 10 % dim_n)
    cstate = F.when(
        F.col("id") % 2 == 0, F.lit("zz")  # unreachable by generator: change
    ).otherwise(
        F.concat(  # equals the current value: no-op
            F.chr(F.lit(65) + (F.col("id") * 10 % dim_n) % 26),
            F.chr(F.lit(65) + ((F.col("id") * 10 % dim_n) * 7) % 26),
        )
    )
    changes = (
        spark.range(chg_n)
        .select(
            ckey.alias("customer_id"),
            cstate.alias("state_code"),
            F.lit("2024-06-01 00:00:00").cast("timestamp").alias("effective_ts"),
        )
        .dropDuplicates(["customer_id"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    print(f"change rows: {changes.count()}")

    for label, strict in (("lax", False), ("strict", True)):
        t0 = time.time()
        out = scd2_apply(dim, changes, "customer_id", ["state_code"], strict=strict)
        n = out.count()
        print(f"scd2_apply {label} ({n} rows): {time.time()-t0:.1f}s")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    print("plan: key-equi joins only, no Window over the dim ✓")

    hist = out.persist(StorageLevel.MEMORY_AND_DISK)
    hist.count()
    probes = spark.range(dim_n // 5).select(
        (F.col("id") * 5 % dim_n).alias("customer_id"),
        F.when(F.col("id") % 2 == 0, F.lit("2024-03-15 00:00:00"))
        .otherwise(F.lit("2024-09-15 00:00:00"))
        .cast("timestamp")
        .alias("ts"),
    )
    t0 = time.time()
    n = scd2_lookup(probes, hist, "customer_id", ts="ts").count()
    print(f"scd2_lookup ({n} rows): {time.time()-t0:.1f}s")


def entity_main() -> None:
    """Entity-resolution blocking-skew probe (VERDICT r5 item 4).

    Shape A — healthy blocking: 2M entities, one 'HOT' block column
    value carrying 5% of all rows, but names whose 2-char normalized
    prefix is diverse: the (block, prefix) composite key splits the
    hot block ~676 ways, so candidate pairs stay bounded.

    Shape B — degenerate blocking: a hot block whose names ALL share
    one prefix, so the composite key cannot split it; candidate count
    grows quadratically in the block size. The probe measures B at
    three block sizes to show the curve, which is the operational
    argument for salting the block key (longer prefix_len, extra
    block columns) when one state dominates.
    """
    total = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000

    from pyspark.sql import functions as F

    spark = _session("stress-entity", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import (
        entity_match_pairs,
    )

    # Shape A
    block = F.when(F.col("id") % 20 == 0, F.lit("HOT")).otherwise(
        F.concat(F.lit("S"), (F.col("id") % 200).cast("string"))
    )
    name = F.concat(
        F.chr(F.lit(97) + F.col("id") % 26),
        F.chr(F.lit(97) + F.floor(F.col("id") / 26) % 26),
        F.lit(" entity "),
        (F.col("id") % 997).cast("string"),
    )
    ents = spark.range(total).select(
        F.col("id").alias("ek"), name.alias("ename"), block.alias("blk")
    )
    t0 = time.time()
    n = entity_match_pairs(
        ents, key="ek", name_col="ename", block_cols=["blk"],
        max_cell_size=None,
    ).count()
    print(f"shape A diverse-prefix hot block ({n} pairs): {time.time()-t0:.1f}s")

    # Shape B: same-prefix hot block at growing sizes
    for hot_n in (5_000, 10_000, 20_000):
        hot = spark.range(hot_n).select(
            (F.col("id") + 10_000_000).alias("ek"),
            F.concat(F.lit("zz entity "), (F.col("id") % 997).cast("string")).alias(
                "ename"
            ),
            F.lit("HOT").alias("blk"),
        )
        t0 = time.time()
        n = entity_match_pairs(
            hot, key="ek", name_col="ename", block_cols=["blk"],
            max_cell_size=None,
        ).count()
        print(
            f"shape B same-prefix hot block n={hot_n} ({n} pairs): "
            f"{time.time()-t0:.1f}s"
        )

    # Auto-salt (round 7) — measured in the SHUFFLE-JOIN regime only:
    # with the small side broadcastable Spark already parallelizes the
    # hot cell across the probe side's input partitions (salting there
    # measured 2-4× SLOWER — pure overhead; that first wrong reading
    # is the documented reason max_cell_size defaults to None). At
    # scale the dim does NOT broadcast, the join shuffles, and the
    # whole hot cell lands on ONE reducer — that is the regime the
    # threshold=-1 below simulates and where salting pays.
    hot_n = 20_000
    hot = spark.range(hot_n).select(
        (F.col("id") + 10_000_000).alias("ek"),
        F.concat(F.lit("zz entity "), (F.col("id") % 997).cast("string")).alias(
            "ename"
        ),
        F.lit("HOT").alias("blk"),
    )
    def _is_salted(df) -> bool:
        return "__salt" in str(df._jdf.queryExecution().analyzed())

    # AUTO regime detection (round 8, knob unset): broadcast regime →
    # auto must choose the UNSALTED plan
    t0 = time.time()
    auto_b = entity_match_pairs(
        hot, key="ek", name_col="ename", block_cols=["blk"]
    )
    assert not _is_salted(auto_b), "auto salted in the broadcast regime"
    nb = auto_b.count()
    print(
        f"broadcast-regime AUTO chose unsalted n={hot_n} ({nb} pairs): "
        f"{time.time()-t0:.1f}s"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        n = entity_match_pairs(
            hot, key="ek", name_col="ename", block_cols=["blk"],
            max_cell_size=None,
        ).count()
        print(
            f"shuffle-regime UNSALTED n={hot_n} ({n} pairs, one reducer "
            f"task): {time.time()-t0:.1f}s"
        )
        # shuffle regime, knob unset: auto must choose the SALTED plan
        t0 = time.time()
        auto_s = entity_match_pairs(
            hot, key="ek", name_col="ename", block_cols=["blk"]
        )
        assert _is_salted(auto_s), "auto unsalted in the shuffle regime"
        ns = auto_s.count()
        assert ns == n == nb, (ns, n, nb)
        print(
            f"shuffle-regime AUTO chose salted ({ns} pairs, identical): "
            f"{time.time()-t0:.1f}s"
        )
        for mcs in (650, 250):
            t0 = time.time()
            ns = entity_match_pairs(
                hot,
                key="ek",
                name_col="ename",
                block_cols=["blk"],
                max_cell_size=mcs,
            ).count()
            assert ns == n, (ns, n)
            print(
                f"shuffle-regime SALTED max_cell_size={mcs} ({ns} pairs, "
                f"identical): {time.time()-t0:.1f}s"
            )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def retrieval_main() -> None:
    """BM25/TF-IDF at 10× docs (round 6): verify the single-pass claim
    holds at scale — cost should track ONE corpus tokenize, not one
    per consumer."""
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-retrieval", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n0 = docs.count()
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * n0)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" c{i}")).alias("text"),
        )
        for i in range(mult)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big = big.repartition(64).persist(StorageLevel.MEMORY_AND_DISK)
    n = big.count()
    print(f"documents rows: {n}")

    t0 = time.time()
    nt = T.tfidf_terms(big).count()
    print(f"tfidf_terms ({nt} doc-term rows): {time.time()-t0:.1f}s")

    for q in (["fast", "row"], ["fast", "row", "value", "slow", "data"]):
        t0 = time.time()
        top = T.bm25_search(big, q, topk=10).collect()
        print(
            f"bm25 |q|={len(q)} top1={top[0].doc_id if top else None}: "
            f"{time.time()-t0:.1f}s"
        )


def cdc_main() -> None:
    """CDC apply at 10M-row snapshot × 1M-row change batch (round 6)."""
    snap_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    chg_n = snap_n // 10

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-cdc", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import cdc_apply

    snap = (
        spark.range(snap_n)
        .selectExpr("id AS k", "cast(id % 1000 AS string) AS v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    snap.count()
    # mix: 60% updates, 20% deletes, 20% inserts beyond the snapshot;
    # every key gets TWO change rows (seq dedup does real work)
    base_k = F.when(F.col("id") % 5 == 4, F.lit(snap_n) + F.col("id")).otherwise(
        F.col("id") * 7 % snap_n
    )
    op = (
        F.when(F.col("id") % 5 == 3, F.lit("D"))
        .when(F.col("id") % 5 == 4, F.lit("I"))
        .otherwise(F.lit("U"))
    )
    changes = (
        spark.range(chg_n)
        .select(
            base_k.alias("k"),
            F.lit("new").alias("v"),
            op.alias("op"),
            F.col("id").alias("seq"),
        )
        .unionByName(
            spark.range(chg_n).select(
                base_k.alias("k"),
                F.lit("older").alias("v"),
                F.lit("U").alias("op"),
                (F.col("id") - chg_n).alias("seq"),  # always loses
            )
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    print(f"snapshot {snap_n}, change rows {changes.count()}")
    t0 = time.time()
    out = cdc_apply(snap, changes, "k")
    no = out.count()
    print(f"cdc_apply ({no} rows): {time.time()-t0:.1f}s")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and plan.count("Window") == 0
    print("plan: batch-side window only (checkpointed), key equi-joins ✓")


def tokmix_main() -> None:
    """Token-budget mixture probe (round 10): 10M rows, one group
    holding 80% of the corpus — the regime where a per-group running
    sum serializes onto one partition. Compares token_budget_mix's
    bucketed scan against the naive single-window-per-group shape on
    the same data, asserts identical flags, and reports both times."""
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = _session("stress-tokmix", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import sampling as S

    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, F.lit("en"))
        .when(F.col("id") % 10 == 8, F.lit("de"))
        .otherwise(F.lit("fr"))
        .alias("lang"),
        ((F.col("id") * 13) % 700 + 50).alias("w"),
    ).localCheckpoint(eager=True)
    quotas = {"en": n * 30, "de": n * 4, "fr": 10**15}  # bite, bite, shortfall

    t0 = time.time()
    fast = S.token_budget_mix(df, "lang", quotas, "w")
    fast_agg = fast.groupBy("lang", "in_token_budget").agg(
        F.count(F.lit(1)).alias("c"), F.sum("w").alias("t")
    ).collect()
    t_fast = time.time() - t0
    print(f"bucketed per-group scan: {t_fast:.1f}s")

    t0 = time.time()
    wq = Window.partitionBy("lang").orderBy(
        S.hash_bucket("doc_id", "tok").asc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quota = F.coalesce(
        *[F.when(F.col("lang") == g, F.lit(int(q))) for g, q in quotas.items()],
        F.lit(0),
    ).cast("long")
    naive = df.withColumn(
        "in_token_budget", F.sum(F.col("w").cast("long")).over(wq) <= quota
    )
    naive_agg = naive.groupBy("lang", "in_token_budget").agg(
        F.count(F.lit(1)).alias("c"), F.sum("w").alias("t")
    ).collect()
    t_naive = time.time() - t0
    print(f"naive one-partition-per-group window: {t_naive:.1f}s "
          f"({t_naive / t_fast:.1f}x)")
    assert sorted(map(tuple, fast_agg)) == sorted(map(tuple, naive_agg))
    for r in sorted(fast_agg, key=lambda r: (r['lang'], bool(r['in_token_budget']))):
        print(f"  {r['lang']} in_budget={r['in_token_budget']}: "
              f"{r['c']} rows, {r['t']} tokens")
    print("flags identical across shapes ✓")
    spark.stop()


def multimodal_main() -> None:
    """Codec-leg throughput probe (round 12): every real codec path —
    PPM, WAV, PNG, JPEG, Y4M, MJPEG-in-AVI — generate + decode over N
    synthetic docs, measured as docs/s. The legs are Arrow-batched
    mapInPandas with no shuffle, so throughput should scale ~linearly
    with cores and the probe pins the single-box constant.

    Usage: python scripts/stress.py --multimodal [n_docs]
    """
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000

    from pyspark.sql import functions as F

    spark = _session("stress-multimodal", 32)

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    ).repartition(64).persist()
    docs.count()

    legs = [
        ("ppm", lambda d: M.extract_features(
            M.attach_binary_payload(d, media="ppm"), codec="ppm")),
        ("wav", lambda d: M.extract_audio_features(
            M.attach_binary_payload(d, media="wav"))),
        ("png", lambda d: M.extract_png_features(M.attach_png_payload(d))),
        ("jpeg", lambda d: M.extract_jpeg_features(M.attach_jpeg_payload(d))),
        ("y4m", lambda d: M.extract_y4m_frames(
            M.attach_binary_payload(d, media="y4m"))),
        ("mjpeg", lambda d: M.extract_mjpeg_frames(M.attach_avi_payload(d))),
    ]
    for name, fn in legs:
        t0 = time.time()
        n = fn(docs).count()
        dt = time.time() - t0
        print(
            f"{name:6s}: {n} rows from {n_docs} docs in {dt:.1f}s "
            f"({n_docs / max(dt, 1e-9):.0f} docs/s)"
        )


def corpus_e2e_main() -> None:
    """End-to-end corpus-construction probe (round 12): the composed
    build_training_corpus pipeline — quality → decontaminate → exact
    dedup → near-dup collapse → token-budget mix → pack → assemble →
    shard assignment — over N synthetic docs with planted duplicates
    and contamination, timed stage by stage (each stage's count action
    drives everything upstream of it, so deltas approximate stage
    cost) plus the end-to-end examples materialization.

    Usage: python scripts/stress.py --corpus-e2e [n_docs]
    """
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000

    from pyspark.sql import functions as F

    spark = _session("stress-corpus-e2e", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators.corpus import (
        build_training_corpus,
    )

    # synthetic corpus with PLANTED structure: token streams are fully
    # id-derived (distinct docs share zero shingles, so near-dup
    # candidates come only from the planted pairs, as in a real mostly-
    # unique corpus), ~1% exact dups of id−1, ~1% near dups of id−2
    # (one extra token, jaccard ≈ 0.91), 10% quality-fail shorts, 1%
    # contaminated with the benchmark trigram
    primes = [7, 13, 29, 41, 53, 67, 79, 97, 113, 131]

    def body(src):
        return F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{j}x"),
                    ((src * p) % 999_999_937).cast("string"),
                )
                for j, p in enumerate(primes)
            ],
        )

    d = F.col("id")
    docs = spark.range(n_docs).select(
        d.alias("doc_id"),
        F.when(d % 2 == 0, F.lit("en")).otherwise(F.lit("fr")).alias("lang"),
        F.when(d % 10 == 3, F.lit("x"))
        .when(
            d % 100 == 7,
            F.lit("the secret benchmark answer padded with some more words here"),
        )
        .when(d % 100 == 1, body(d - 1))
        .when(d % 100 == 2, F.concat_ws(" ", body(d - 2), F.lit("extraz")))
        .otherwise(body(d))
        .alias("text"),
    )
    bench = spark.createDataFrame(
        [(0, "the secret benchmark answer")], "doc_id long, text string"
    )
    from sales_analytics_etl_sql_powerbi_spark.operators.corpus import (
        observed_stage_counts,
    )

    out = build_training_corpus(
        docs,
        benchmark=bench,
        neardup=True,
        token_quotas={"en": 40_000_000, "fr": 10_000_000},
        budget=2048,
        n_shards=64,
    )
    # the run a real curation job performs: ONE action on examples,
    # with the observe() counters riding it for free (round 13)
    t0 = time.time()
    agg = out["examples"].agg(
        F.count(F.lit(1)), F.sum("n_tokens"), F.count_distinct("shard")
    ).first()
    t_e2e = time.time() - t0
    t0 = time.time()
    observed = observed_stage_counts(out)
    t_obs = time.time() - t0
    print(
        f"examples: {agg[0]} rows, {agg[1]} tokens, {agg[2]} shards "
        f"({t_e2e:.1f}s end-to-end materialization)"
    )
    print(
        f"observed stage counts (rode the action, +{t_obs:.2f}s): "
        f"{observed}"
    )
    # the OLD audit flavor, for the cost comparison: recomputes every
    # stage prefix
    t0 = time.time()
    counts = {r.stage: r.n_docs for r in out["stage_counts"].collect()}
    t_counts = time.time() - t0
    print(f"recompute stage counts ({t_counts:.1f}s): {counts}")
    assert observed == counts, (observed, counts)
    print("observed == recompute: OK")


def packing_main() -> None:
    """Sequence-packing scale probe (round 10): pack N synthetic docs
    (variable token counts) into budget-sized examples and verify the
    global invariants BY AGGREGATE (never a data-sized collect):
    total packed tokens == total corpus tokens, example count ==
    ceil(total/B), every example except the last exactly full, and
    the bucket histogram of the prefix-sum stage stays balanced."""
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    B = 512

    from pyspark.sql import functions as F

    spark = _session("stress-packing", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import packing

    # 1..40 tokens per doc, deterministic; ~100M tokens at 5M docs
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 40) + 1),
                lambda i: F.concat(F.lit("t"), i.cast("string")),
            ),
        ).alias("text"),
    )
    total_tokens = n_docs // 40 * (40 * 41 // 2) + sum(
        i % 40 + 1 for i in range(n_docs - n_docs // 40 * 40)
    )
    t0 = time.time()
    segs = packing.pack_sequences(docs, budget=B, num_buckets=64)
    per_ex = segs.groupBy("example_id").agg(
        F.sum("n_seg_tokens").alias("n")
    )
    agg = per_ex.agg(
        F.count(F.lit(1)).alias("n_examples"),
        F.sum("n").alias("n_tokens"),
        F.sum((F.col("n") != B).cast("long")).alias("n_not_full"),
    ).collect()[0]
    dt = time.time() - t0
    import math

    print(
        f"packing {n_docs} docs / {total_tokens} tokens @ B={B}: {dt:.1f}s — "
        f"{agg['n_examples']} examples (expect {math.ceil(total_tokens / B)}), "
        f"{agg['n_tokens']} packed tokens, {agg['n_not_full']} not-full"
    )
    assert agg["n_tokens"] == total_tokens
    assert agg["n_examples"] == math.ceil(total_tokens / B)
    assert agg["n_not_full"] <= 1
    # bucket balance of the prefix-sum stage: uniform doc_id → equal-
    # width buckets within one row of each other (64-row histogram)
    width = (n_docs - 1) // 64 + 1
    sizes = [
        r["count"]
        for r in docs.groupBy(F.expr(f"doc_id DIV {width}")).count().collect()
    ]
    print(
        f"prefix-sum bucket sizes: min {min(sizes)}, max {max(sizes)}, "
        f"{len(sizes)} buckets"
    )
    print("invariants hold by aggregate ✓")
    spark.stop()


def graph_main() -> None:
    """PageRank at 2M edges / 200k nodes (round 6): per-iteration cost
    and the checkpoint cadence that keeps iteration time flat."""
    n_nodes = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    n_edges = n_nodes * 10

    from pyspark.sql import functions as F

    spark = _session("stress-graph", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import graph

    # deterministic pseudo-random graph: hub bias via modulo mixing,
    # ~10 edges/node, some dangling nodes (dst-only)
    edges = spark.range(n_edges).select(
        (F.col("id") % n_nodes).alias("src"),
        ((F.col("id") * 2654435761) % n_nodes).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    t0 = time.time()
    ranks = graph.pagerank(edges, max_iter=10)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    secs = time.time() - t0
    print(
        f"pagerank {n_edges} edges / {n_nodes} nodes, 10 iters: "
        f"{secs:.1f}s ({secs/10:.1f}s/iter), mass={total:.6f}"
    )


def concurrent_append_main() -> None:
    """Concurrent-writer probe for the round-18 isolated-staging sink:
    N threads race append batches into ONE table; every row must land
    (the r17 shared-_temporary design lost staged rows here), no
    staging leftovers may remain, and the per-writer publish overhead
    vs a raw committer append is measured. Then N threads race the
    key-UPSERT on overlapping keys: each either completes or raises
    ConcurrentWriteError, and the table must hold no duplicate key.

    Usage: python scripts/stress.py --concurrent-append [n_writers]
                                    [rows_per_batch] [batches_per_writer]
    """
    n_writers = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    rows = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    batches = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    import os
    import tempfile
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    spark = _session("stress-concurrent-append", 32)

    from sales_analytics_etl_sql_powerbi_spark.sources.sinks import (
        ConcurrentWriteError,
        write_append,
    )
    from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
        upsert_batch_into_parquet,
    )

    tmp = tempfile.mkdtemp(prefix="stress_conc_")
    tbl = os.path.join(tmp, "tbl")

    def batch(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("bucket"),
            F.sha1(F.col("id").cast("string")).alias("payload"),
        )

    def writer(w: int) -> None:
        for b in range(batches):
            base = (w * batches + b) * rows
            write_append(batch(base, base + rows), tbl)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(n_writers) as ex:
        for f in [ex.submit(writer, w) for w in range(n_writers)]:
            f.result()
    dt = time.perf_counter() - t0
    total = n_writers * batches * rows
    got = spark.read.parquet(tbl)
    n, nd = got.count(), got.select("k").distinct().count()
    leftovers = [
        x
        for x in os.listdir(tbl)
        if x.startswith("_staging_") or x == "_temporary"
    ]
    assert n == nd == total, (n, nd, total)
    assert leftovers == [], leftovers
    print(
        f"concurrent appends: {n_writers} writers x {batches} batches x "
        f"{rows} rows = {total} rows in {dt:.1f}s — all landed, "
        f"no duplicates, no leftovers"
    )

    # publish overhead vs the raw committer (single writer, same data)
    a, b = os.path.join(tmp, "iso"), os.path.join(tmp, "raw")
    data = batch(0, rows)
    t0 = time.perf_counter()
    write_append(data, a)
    t_iso = time.perf_counter() - t0
    t0 = time.perf_counter()
    data.write.mode("append").parquet(b)
    t_raw = time.perf_counter() - t0
    print(
        f"publish overhead: isolated-staging append {t_iso:.2f}s vs raw "
        f"committer {t_raw:.2f}s ({t_iso / t_raw:.2f}x) at {rows} rows"
    )

    # upsert contention on OVERLAPPING keys: serialize or raise, never
    # duplicate
    utbl = os.path.join(tmp, "upsert")

    def upserter(_w: int) -> str:
        try:
            upsert_batch_into_parquet(batch(0, rows), utbl, ["k"])
            return "ok"
        except ConcurrentWriteError:
            return "locked"

    with ThreadPoolExecutor(n_writers) as ex:
        outcomes = sorted(
            f.result() for f in [ex.submit(upserter, w) for w in range(n_writers)]
        )
    ug = spark.read.parquet(utbl)
    un, und = ug.count(), ug.select("k").distinct().count()
    assert un == und, (un, und)
    assert un == rows if "ok" in outcomes else un == 0
    print(
        f"concurrent upserts (same keys): outcomes {outcomes} — "
        f"{un} rows, {und} distinct keys (no duplicates)"
    )
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def aggregates_main() -> None:
    """Histogram quantiles at 10M rows (round 6): the mergeable
    histogram table against the exact full-sort percentile."""
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = _session("stress-aggregates", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import histograms

    df = (
        spark.range(n)
        .selectExpr(
            "cast(id % 5 as string) g",
            "cast((id * 2654435761) % 100000 as double) v",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df.count()

    t0 = time.time()
    exact = df.groupBy("g").agg(F.expr("percentile(v, 0.95)").alias("p")).collect()
    print(f"exact percentile(0.95) by group (full sort path): {time.time()-t0:.1f}s")

    t0 = time.time()
    h = histograms.histogram_table(df, ["g"], "v", 0.0, 100000.0, 256).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    h.count()
    print(f"histogram_table build (256 bins): {time.time()-t0:.1f}s")
    t0 = time.time()
    q = {
        (r.g, r.q): r.quantile
        for r in histograms.quantile_estimate(h, ["g"], [0.5, 0.95, 0.99]).collect()
    }
    print(f"3 quantiles from histogram: {time.time()-t0:.2f}s")
    ex = {r.g: r.p for r in exact}
    err = max(abs(q[(g, 0.95)] - ex[g]) for g in ex)
    print(f"max |hist p95 - exact p95|: {err:.1f} (bin width {100000/256:.1f})")


def lsh_cap_main() -> None:
    """LSH candidate-blowup guard at scale (round 13 — the measured
    companion to VERDICT r12 item 4's unit tests): a mostly-unique
    corpus (id-derived token streams, zero cross-doc shingles) with
    ONE planted boilerplate flood of F near-identical docs. Candidate
    pairs from the flood grow as C(F,2) uncapped — the degenerate
    regime the corpus-e2e first draft hit — while the capped run is
    bounded at C(cap,2) per band regardless of F. Reports pair counts,
    wall time, and the riding drop counters at growing flood sizes,
    capped vs uncapped.

    Usage: python scripts/stress.py --lsh-cap [n_unique] [floods] [cap]
      floods comma list, default 5000,10000,20000; cap default 250
    """
    n_unique = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    floods = (
        [int(x) for x in sys.argv[3].split(",")]
        if len(sys.argv) > 3
        else [5_000, 10_000, 20_000]
    )
    cap = int(sys.argv[4]) if len(sys.argv) > 4 else 250

    from pyspark.sql import functions as F

    spark = _session("stress-lsh-cap", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    primes = [7, 13, 29, 41, 53, 67, 79, 97, 113, 131]

    def body(src):
        return F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{j}x"),
                    ((src * p) % 999_999_937).cast("string"),
                )
                for j, p in enumerate(primes)
            ],
        )

    for flood in floods:
        uniq = spark.range(n_unique).select(
            F.col("id").alias("doc_id"), body(F.col("id")).alias("text")
        )
        # flood docs: shared boilerplate + one distinguishing token —
        # near-identical, all landing in the same LSH buckets
        flooded = spark.range(flood).select(
            (F.col("id") + n_unique).alias("doc_id"),
            F.concat(
                F.lit("spam boiler plate text repeated across the fleet "),
                F.lit("every page the same footer nav "),
                F.lit("tok"),
                F.col("id").cast("string"),
            ).alias("text"),
        )
        docs = uniq.unionByName(flooded)
        for label, kw in (
            ("uncapped", {}),
            ("capped", {"max_bucket_size": cap, "audit": {}}),
        ):
            t0 = time.time()
            n_pairs = dedup.neardup_pairs(docs, threshold=0.0, **kw).count()
            dt = time.time() - t0
            extra = ""
            if "audit" in kw:
                c = dedup.lsh_cap_audit(kw["audit"])
                extra = (
                    f" dropped={c['dropped_entries']}"
                    f" oversized={c['oversized_buckets']}"
                )
            print(
                f"flood={flood} {label}: {n_pairs} pairs in {dt:.1f}s{extra}"
            )


def entity_zipf_main() -> None:
    """Entity-resolution probe at 10M rows with a ZIPFIAN surname
    distribution (round 13 — VERDICT r12 item 5; the r7 blocking-skew
    probe predates the auto-salt regime finding and used synthetic
    uniform blocks).

    Population: surnames drawn Zipf(s=1) from a 100k-surname pool via
    inverse-CDF on a hash-uniform (rank = floor(pool^u), P(r) ∝ 1/r —
    the top surname carries ~1/ln(pool) ≈ 8% of ALL rows, like real
    'Smith'-heavy registries), names '<surname> fn<k>', blocking on
    (zip3, 2-char normalized prefix) — 1000 uniform zips × the skewed
    surname prefix, the realistic record-linkage key.

    Reported: the blocking-cell histogram (p50/p90/p99/max cell, cells
    and ROWS over the 250-row auto-salt cap = the salt trigger rate,
    the nsalt fan-out the cap prescribes), then the wall-time curve of
    the full operator in the SHUFFLE-join regime (broadcast disabled —
    the 100-TB regime where the whole hot cell otherwise lands on one
    reducer) with auto salting, plus an unsalted reference point at the
    middle size.

    Usage: python scripts/stress.py --entity-zipf [total] [pool] [zips]
    """
    total = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    pool = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    zips = int(sys.argv[4]) if len(sys.argv) > 4 else 1_000

    from pyspark.sql import functions as F

    spark = _session("stress-entity-zipf", 64)

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import (
        _AUTO_CELL_SIZE,
        entity_match_pairs,
    )

    def ents(n):
        # Zipf(s=1) inverse-CDF: u ~ U[0,1) hash-derived, rank =
        # floor(pool^u) in [1, pool], P(rank=r) ≈ 1/(r·ln(pool))
        u = (F.pmod(F.xxhash64("id"), 1_000_000_000) / 1e9).cast("double")
        rank = F.floor(F.pow(F.lit(float(pool)), u)).cast("long")
        surname = F.concat(
            F.chr(F.lit(97) + F.pmod(rank, 26)),
            F.chr(F.lit(97) + F.pmod(F.floor(rank / 26), 26)),
            F.lit("nam"),
            rank.cast("string"),
        )
        return spark.range(n).select(
            F.col("id").alias("ek"),
            F.concat(
                surname, F.lit(" fn"), (F.col("id") % 1000).cast("string")
            ).alias("ename"),
            F.concat(F.lit("z"), (F.col("id") % zips).cast("string")).alias(
                "blk"
            ),
        )

    # --- blocking-cell histogram at the full size --------------------
    full = ents(total)
    cells = (
        full.select(
            "blk",
            F.substring(
                F.trim(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.lower(F.col("ename")), "[^a-z0-9 ]", " "
                        ),
                        " +",
                        " ",
                    )
                ),
                1,
                2,
            ).alias("pfx"),
        )
        .groupBy("blk", "pfx")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    t0 = time.time()
    stats = cells.agg(
        F.count(F.lit(1)).alias("cells"),
        F.expr("percentile_approx(n, array(0.5, 0.9, 0.99), 10000)").alias("q"),
        F.max("n").alias("max_cell"),
        F.sum((F.col("n") > _AUTO_CELL_SIZE).cast("long")).alias("over_cells"),
        F.sum(
            F.when(F.col("n") > _AUTO_CELL_SIZE, F.col("n")).otherwise(0)
        ).alias("over_rows"),
        F.sum(
            F.least(
                F.ceil(F.col("n") / F.lit(_AUTO_CELL_SIZE)), F.lit(256)
            )
        ).alias("total_salts"),
    ).first()
    print(
        f"cells={stats.cells} p50/p90/p99={[int(x) for x in stats.q]} "
        f"max={stats.max_cell} | over-cap(>{_AUTO_CELL_SIZE}): "
        f"{stats.over_cells} cells ({stats.over_cells / stats.cells:.2%}), "
        f"{stats.over_rows} rows ({stats.over_rows / total:.2%}) | "
        f"prescribed salt groups={stats.total_salts} "
        f"({time.time() - t0:.1f}s histogram)"
    )
    cells.unpersist()

    # --- wall-time curve, shuffle regime (the at-scale plan) ---------
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sizes = [s for s in (1_000_000, 3_000_000, total) if s <= total]
    for n in sizes:
        e = ents(n)
        t0 = time.time()
        aud: dict = {}
        auto = entity_match_pairs(
            e, key="ek", name_col="ename", block_cols=["blk"], audit=aud
        )
        regime = (
            "salted"
            if "__salt" in str(auto._jdf.queryExecution().analyzed())
            else "unsalted"
        )
        pairs = auto.count()
        total_s = time.time() - t0
        ps = aud.get("prescan_seconds", 0.0)
        print(
            f"n={n}: AUTO({regime}) {pairs} pairs in {total_s:.1f}s "
            f"(prescan {ps:.2f}s = {ps / total_s:.1%}; "
            f"resolved={aud.get('resolved_max_cell_size')})"
        )
        if n == 3_000_000:
            t0 = time.time()
            pu = entity_match_pairs(
                e,
                key="ek",
                name_col="ename",
                block_cols=["blk"],
                max_cell_size=None,
            ).count()
            assert pu == pairs, (pu, pairs)
            print(
                f"n={n}: UNSALTED reference {pu} pairs in "
                f"{time.time() - t0:.1f}s"
            )
        if n == total:
            # REPLAY path (round 15 — VERDICT r14 item 6): feed the
            # audit's resolved decision back as an explicit
            # max_cell_size — no prescan job runs, the second call
            # against the same corpus is pure join time
            t0 = time.time()
            aud2: dict = {}
            pr = entity_match_pairs(
                e,
                key="ek",
                name_col="ename",
                block_cols=["blk"],
                max_cell_size=aud["resolved_max_cell_size"],
                audit=aud2,
            ).count()
            assert pr == pairs, (pr, pairs)
            assert aud2["regime"] == "explicit"
            assert aud2["prescan_seconds"] == 0.0
            print(
                f"n={n}: REPLAY(resolved="
                f"{aud['resolved_max_cell_size']}) {pr} pairs in "
                f"{time.time() - t0:.1f}s (no prescan)"
            )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--docs":
        docs_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--events":
        events_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--rules":
        rules_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--skew":
        skew_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--vectors":
        vectors_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--state":
        state_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--scd2":
        scd2_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--entity":
        entity_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--entity-zipf":
        entity_zipf_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--lsh-cap":
        lsh_cap_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--packing":
        packing_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--corpus-e2e":
        corpus_e2e_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--multimodal":
        multimodal_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--tokmix":
        tokmix_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--retrieval":
        retrieval_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--cdc":
        cdc_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--graph":
        graph_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--aggregates":
        aggregates_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--concurrent-append":
        concurrent_append_main()
    else:
        main()
