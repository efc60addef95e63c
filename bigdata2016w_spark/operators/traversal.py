"""Iterative graph traversal: bounded-round SSSP (BFS is its w = 1 case),
k-core peeling and label propagation.

The reference's graph family is Pregel-style message passing (PPR,
``JAVA/assignment4/RunPersonalizedPageRankBasic.java:160-259``); SSSP is
the same shape with min-combine instead of sum-combine:

    dist' = groupBy(id).min( dist  ∪  (edges ⋈ dist).select(dst, d + w) )

A fixed round count makes each result closed-form (unreached nodes stay
NULL-distance and are dropped), so every oracle unrolls the rounds into
chained SQL CTEs (``plans/traversal.py``), the same trick as PageRank's.
All three loops run on ``operators/_loop.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata2016w_spark.operators._loop import graph, iterate


def bfs_hops(edges: DataFrame, source: int, max_hops: int = 8,
             num_partitions: int | None = None,
             checkpoint_every: int = 2) -> DataFrame:
    """→ (id, dist) for every node reachable from ``source`` within
    ``max_hops`` directed hops (dist = minimum hop count; source = 0):
    :func:`sssp_weighted` with every edge weight 1."""
    return sssp_weighted(edges.withColumn("w", F.lit(1)), source, max_hops,
                         num_partitions, checkpoint_every)


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 6,
               num_partitions: int | None = None) -> DataFrame:
    """→ (id, core_degree): the subgraph surviving ``rounds`` rounds of
    k-core peeling (repeatedly remove nodes of undirected degree < k),
    with each survivor's degree inside the surviving subgraph.

    Bounded-round peel, the SSSP-hops convention: a FIXED number of
    rounds keeps the whole computation closed-form so the oracle can
    unroll it into chained CTEs; on a converged graph the result IS the
    k-core (pinned in tests by running one extra round and asserting a
    fixpoint). Each round is one hash-agg degree count plus two
    semi-joins against the ≤|V|-row survivor set — at 100 TB the edge
    table shuffles once up front (partitioned by src) and each round's
    survivor list is broadcastable long before the edge table is."""
    und, _, par = graph(edges, num_partitions, symmetric=True)

    def peel(und: DataFrame, _r: int) -> DataFrame:
        keep = und.groupBy("src").agg(F.count("*").alias("d"))
        keep = keep.where(F.col("d") >= k).select(F.col("src").alias("id"))
        return (
            und.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .repartition(par, "src")
        )

    return iterate(und, peel, rounds).groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("core_degree")
    )


def lpa_communities(edges: DataFrame, rounds: int = 4,
                    num_partitions: int | None = None) -> DataFrame:
    """→ (id, label): community detection by synchronous label
    propagation (Raghavan et al. 2007, Phys. Rev. E 76) over the
    undirected graph, made fully deterministic: every node starts
    labeled with its own id, and each round every node adopts the most
    frequent label among its NEIGHBORS with ties broken toward the
    LOWEST label — the deterministic tie-break that replaces the
    paper's random choice, so the DuckDB oracle replays the identical
    result. A FIXED round count (the SSSP/k-core convention) makes the
    output well-defined even where synchronous LPA oscillates (a lone
    edge swaps labels with period 2 — pinned in tests) and lets the
    oracle unroll the rounds into chained CTEs.

    Scale shape: the symmetrized edge table shuffles once up front; each
    round is one join and two map-side-combinable aggregates over ≤ 2|E|
    rows, never a window (see _lpa_round). The label table (≤ |V| rows)
    is the only per-round state."""
    und, nodes, _ = graph(edges, num_partitions, symmetric=True)
    labels = nodes.select("id", F.col("id").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    return iterate(labels, lambda labels, _r: _lpa_round(und, labels), rounds)


def _lpa_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: neighbor labels via one join on the
    symmetrized edges, then the most-frequent-label argmax as TWO
    partial+final agg pairs — a hash agg for the (id, label) counts, then
    max(struct(count, −label)) per id, a SortAggregate pair (struct
    buffers aren't hash-aggregable) with the partial max BEFORE the
    exchange. Deliberately NOT a window over the per-node groups: a hub's
    full neighbor list would sort-buffer inside one task, and every row
    would cross the exchange uncombined. Plan shape pinned in
    tests/test_plan_properties.py."""
    nb = und.join(
        labels.withColumnRenamed("id", "dst"), "dst"
    ).select(F.col("src").alias("id"), "label")
    best = (
        nb.groupBy("id", "label").agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max(F.struct(
            F.col("c"), (-F.col("label")).alias("nl")
        )).alias("b"))
    )
    return best.select("id", (-F.col("b.nl")).alias("label"))


def sssp_weighted(edges: DataFrame, source: int, rounds: int = 8,
                  num_partitions: int | None = None,
                  checkpoint_every: int = 2) -> DataFrame:
    """→ (id, dist) minimum WEIGHTED distance from ``source`` using at
    most ``rounds`` edges per path — bounded-round Bellman-Ford;
    :func:`bfs_hops` is the w = 1 case.

    Pregel min-combine shape: each round relaxes every edge out of the
    current frontier (dist + w) and folds with a bare groupBy min
    (map-side partial combine). All arithmetic is exact
    integer, so the unrolled-CTE oracle replays every round with no
    float caveat; ``rounds`` bounds path length exactly as the driver
    loop does, making the oracle equality total, not asymptotic.
    ``edges`` must carry an integer ``w`` column."""
    edges, nodes, _ = graph(edges, num_partitions)
    dist = nodes.select(
        "id",
        F.when(F.col("id") == F.lit(source), F.lit(0).cast("long"))
        .alias("dist"),
    ).localCheckpoint(eager=True)

    def relax(dist: DataFrame, _r: int) -> DataFrame:
        relaxed = (
            edges.join(dist, edges.src == dist.id)
            .where(F.col("dist").isNotNull())
            .select(F.col("dst").alias("id"),
                    (F.col("dist") + F.col("w")).alias("dist"))
        )
        # bare groupBy: map-side partial min-combine + AQE-sized exchange.
        # The alternative (explicit repartition(par, id) to co-partition
        # every round with the edge join key) was A/B-measured SLOWER on
        # local[32] (1.80 s vs 1.68 s; same result for the equivalent
        # PageRank change, 4.17 s vs 3.21 s) — the extra full-row
        # exchange costs more than AQE's handling of the mismatch.
        return (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )

    dist = iterate(dist, relax, rounds, every=checkpoint_every)
    return dist.where(F.col("dist").isNotNull()).select("id", "dist")
