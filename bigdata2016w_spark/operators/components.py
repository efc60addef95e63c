"""Connected components — the clustering step a dedup pipeline needs
after pair detection (near-dup PAIRS → duplicate GROUPS → one survivor
per group). No reference counterpart; the distributed pattern is the same
driver-loop-over-joins shape as PageRank (SURVEY §2.9).

Algorithm: iterative min-label propagation. Each node's label starts as
its own id; every round each node takes the min of its label and its
neighbors' labels; stop when a round changes nothing. Rounds needed =
graph diameter — small for dedup clusters (near-dups chain shallowly).
For adversarial long-path graphs at 100 TB you'd switch to
large-star/small-star (Kiveris et al.) which converges in O(log n)
rounds; min-propagation is the right tool for the shallow-cluster shape.

Both variants run each round as ONE Spark action: the convergence probe
is an ``Observation`` on the round's eager ``localCheckpoint``, not a
separate count/collect job (per-action cost dominates dedup-sized graphs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with ``metrics``
    (aggregates over its rows) observed during that same job."""
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def connected_components_star(
    edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """edges(src, dst) undirected → (id, component) via alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond"). Converges in O(log n) rounds regardless of
    graph diameter — the fallback :func:`connected_components`'s
    docstring promises for adversarial long-path graphs at scale.

    Each round is two (groupBy + join) shuffles over the current edge
    set, materialized by one eager checkpoint. The convergence probe —
    an order-independent ``(n, hash-sum)`` signature of the edge set, so
    "unchanged" costs no distributed set-difference — is an
    ``Observation`` on that checkpoint, not a separate collect."""

    def _canon(e: DataFrame) -> DataFrame:
        return e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v")).distinct()

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient (u ≥ v); m = min over smaller-neighbors ∪ {u}
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        pairs = o.join(m, "u").select("u", "v", "m")
        return pairs.select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(
            pairs.select("u", F.col("m").alias("v"))
        ).where(F.col("u") != F.col("v"))

    # hashes reduced mod 2^31 before the sum so it cannot overflow int64
    # under ANSI mode (safe to ~4e9 edges; collision odds for a
    # convergence probe are irrelevant)
    sig_of = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2147483648))), F.lit(0)
        ).alias("h"),
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e, sig = _checkpoint(_canon(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    ), *sig_of)
    for _ in range(max_rounds):
        e, new_sig = _checkpoint(_canon(_small_star(_large_star(e))), *sig_of)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # an unconverged edge set is not a valid star forest — a node could
        # carry multiple or non-minimal labels; refuse to return it
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds (O(log n) expected); raise max_rounds"
        )
    # converged star: every child points straight at its component root
    child = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = nodes.join(
        child.select("id"), "id", "left_anti"
    ).withColumn("component", F.col("id"))
    return child.union(roots)


def connected_components(
    edges: DataFrame, max_iters: int = 20
) -> DataFrame:
    """edges(src, dst) undirected → (id, component) with component = min
    node id reachable. Converges early when a round is a no-op.

    The symmetric edge set holds a self-loop per node, so one join +
    groupBy per round yields both the new label (min over the node and
    its neighbors) and the previous one (the self-loop row's label).
    Round 1 reads label(b) = b straight from the edges."""
    # union is positional; distinct (in the one setup job) leaves 2E + V
    # rows, so duplicate edges and per-edge self-loops never reach a round
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    sym = sym.union(sym.select("b", "a")).union(sym.select("a", "a")).union(
        sym.select("b", "b")
    ).distinct().localCheckpoint(eager=True)
    labeled = sym.withColumn("component", F.col("b"))
    for _ in range(max_iters):
        labels, probe = _checkpoint(
            labeled.groupBy(F.col("a").alias("id")).agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("component")))
                .alias("prev"),
            ),
            F.count_if(F.col("component") != F.col("prev")).alias("changed"),
        )
        if probe["changed"] == 0:
            break
        labeled = sym.join(
            labels.select(F.col("id").alias("b"), "component"), "b"
        )
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(rounds needed = graph diameter); raise max_iters or use "
            "connected_components_star"
        )
    return labels.select("id", "component")
