"""Multi-source personalized PageRank — the reference's a4 surface.

Reference shape: an iterative chain of paired Hadoop MR jobs
(``JAVA/assignment4/RunPersonalizedPageRankBasic.java``): phase 1
distributes ``rank/deg`` mass along adjacency lists in log space
(``:92-129``), combiners/reducers fold messages with ``sumLogProbs``
(``:146-175,196-265``), reducers write per-task mass totals to HDFS side
files the driver reads back (``:267-286,559-573``); phase 2 redistributes
the missing (dangling) mass and applies the α=0.15 jump restricted to each
personalization source (``:338-373``). State between iterations is a
SequenceFile dir per iteration; multi-source runs keep one float slot per
source (``PageRankNode.java:40``).

Spark-first design: one Python driver loop over a checkpointed DataFrame
with one rank column per source (codegen-friendly; no array shuffling):

- mass distribution = ``ranks ⋈ edges on src`` + ``groupBy(dst).sum`` —
  Catalyst's shuffled join/agg replaces the hand-partitioned MR shuffle
  (partition alignment via ``repartition(n, 'id')`` replaces
  ``NonSplitableSequenceFileInputFormat``/``PartitionGraph``);
- dangling mass = a one-row ``1 − Σ link`` aggregate per source,
  broadcast inside the plan — replaces the HDFS side files;
- linear-space ``double`` arithmetic replaces log-space ``float``
  ``sumLogProbs`` (``:636-648``) — double precision makes the log-space
  stability trick unnecessary (SURVEY §4);
- iterations run on the shared driver loop (``operators/_loop.py``),
  whose checkpoints truncate the growing lineage (SURVEY §7.3 hard part).

Semantics per iteration, per source s (α = 0.15, ``:373``):
    new_rank(v) = (1−α)·(link_mass(v) + missing·1[v=s]) + α·1[v=s]
i.e. both the random jump and the lost dangling mass return to the source
only — the personalized variant (``:338-361``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata2016w_spark.operators._loop import graph, iterate

ALPHA = 0.15  # RunPersonalizedPageRankBasic.java:373


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    num_iters: int = 10,
    alpha: float = ALPHA,
    # every-2 measured fastest on local[32]
    checkpoint_every: int = 2,
    num_partitions: int | None = None,
    tol: float | None = None,
) -> DataFrame:
    """Run personalized PageRank; returns (id, rank_0..rank_{k-1}).

    ``edges`` is DataFrame[src long, dst long]. The vertex set is the union
    of endpoints (nodes referenced only as targets are dangling — the
    missing-structure path of RunPersonalizedPageRankBasic.java:251-259).

    ``num_partitions`` sizes every per-iteration shuffle; default is the
    cluster parallelism — pass a smaller value for small graphs (empty
    tasks × iterations dominate otherwise) and a larger one at scale.

    ``tol``: optional early stop when the max L1 rank change across all
    sources drops below it (the reference only supported fixed iteration
    counts, RunPersonalizedPageRankBasic.java:466-469). It is measured
    between consecutive checkpoints, so none runs between them.
    """
    rcols = [f"rank_{i}" for i in range(len(sources))]

    def at_source(s, x):  # x on source s's own row, 0.0 elsewhere
        return F.when(F.col("id") == F.lit(s), x).otherwise(0.0)

    # the static side once: edges and out-degrees are reused by every
    # iteration (the reference pre-partitioned them into aligned files
    # once, PartitionGraph.java:107-126 — same idea, in memory)
    edges, nodes, _ = graph(edges, num_partitions)
    nodes = nodes.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    deg = deg.localCheckpoint(eager=True)
    # init: source slots get mass 1.0, everything else 0
    # (BuildPersonalizedPageRankRecords.java:100-116)
    ranks = nodes.select("id", *[
        at_source(s, 1.0).alias(c) for s, c in zip(sources, rcols)
    ]).localCheckpoint(eager=True)

    def iteration(ranks: DataFrame, _r: int) -> DataFrame:
        contrib = ranks.join(edges, ranks.id == edges.src).join(deg, "src")
        contrib = contrib.select(
            F.col("dst").alias("id"),
            *[(F.col(c) / F.col("deg")).alias(c) for c in rcols])
        link = contrib.groupBy("id").agg(*[F.sum(c).alias(c) for c in rcols])
        # dangling mass per source: whatever didn't arrive anywhere
        # (RunPersonalizedPageRankBasic.java:267-286 reads it back from
        # HDFS side files; here it stays in the plan)
        missing = link.agg(*[
            (F.lit(1.0) - F.coalesce(F.sum(c), F.lit(0.0))).alias(f"miss_{c}")
            for c in rcols
        ])
        joined = nodes.join(link, "id", "left").crossJoin(F.broadcast(missing))
        return joined.select("id", *[
            (F.lit(1.0 - alpha) * (F.coalesce(F.col(c), F.lit(0.0))
                                   + at_source(s, F.col(f"miss_{c}")))
             + at_source(s, F.lit(alpha))).alias(c)
            for s, c in zip(sources, rcols)
        ])

    def converged(last, cut) -> bool:
        # max L1 rank change between consecutive checkpoints
        if last is None:
            return False
        delta = cut[0].alias("n").join(last[0].alias("p"), "id").agg(F.max(
            sum(F.abs(F.col(f"n.{c}") - F.col(f"p.{c}")) for c in rcols)
        )).collect()[0][0]
        return delta is not None and delta < tol

    return iterate(ranks, iteration, num_iters, every=checkpoint_every,
                   stop=None if tol is None else converged)


def top_k_per_source(
    ranks: DataFrame, sources: list[int], k: int = 10, round_to: int = 6
) -> DataFrame:
    """(source, id, rank) top-k per personalization source.

    The bounded-heap extraction of ExtractTopPersonalizedPageRankNodes.java:
    44-127 as a per-source window rank (SURVEY §2.6); linear space, so no
    exp() conversion is needed.
    """
    from bigdata2016w_spark.operators.topk import topk_per_group

    per_source = reduce(DataFrame.union, [
        ranks.select(F.lit(s).alias("source"), "id",
                     F.col(f"rank_{i}").alias("rank"))
        for i, s in enumerate(sources)
    ])
    return topk_per_group(
        per_source, ["source"], [F.desc("rank"), F.asc("id")], k
    ).select("source", "id", F.round("rank", round_to).alias("rank"))
