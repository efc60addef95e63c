"""The one driver loop behind every iterative operator (PageRank, SSSP/BFS,
k-core, label propagation, both connected-components variants, BPE) and
the graph prelude they share. The shape is the reference's a4 driver loop
over a chain of MR jobs (``RunPersonalizedPageRankBasic.java``), with the
per-iteration SequenceFile dir replaced by an in-memory checkpoint.

Why checkpoint: each round stacks its joins and aggregates on the previous
state's plan, and Spark re-plans and re-executes the whole stack on every
action — superlinear in the round count (10 unchecked PageRank iterations
measured ~200 s against 3.4 s checkpointed every 2, local[32]). An eager
``localCheckpoint`` turns the state into a scan of executor-held blocks.
Each cut is one Spark job, so ``every`` lets rounds share one.

Why the probe rides on the checkpoint: a convergence test run as its own
``count``/``collect`` is a second action per round, and on small graphs
the per-action driver cost is the whole round. ``probe`` columns are an
``Observation`` on the checkpoint job itself, so the loop adds no action.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with ``metrics``
    (aggregates over its rows) observed during that same job."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def iterate(state, step: Callable, rounds: int, *, every: int = 1,
            final: bool = True, probe: tuple[Column, ...] = (),
            stop: Callable | None = None, unconverged: str | None = None):
    """``state ← step(state, r)`` for r = 1 … ``rounds`` → the last state.

    Round r is checkpointed when ``r % every == 0``, and so is the last
    round unless ``final`` is false (for a caller that keeps only what
    its steps collect). After each checkpoint ``stop(last, cut)`` gets
    the ``(state, observed probe)`` pairs of the previous checkpoint
    (``None`` at the first) and of this one; true ends the loop. A step
    that returns ``None`` ends it too, keeping the state it was given.
    Running out of rounds with ``unconverged`` set raises
    ``RuntimeError(unconverged)`` rather than return a non-fixpoint.
    """
    last = None
    for r in range(1, rounds + 1):
        nxt = step(state, r)
        if nxt is None:
            return state
        state = nxt
        if r % every and not (final and r == rounds):
            continue
        cut = checkpoint(state, *probe)
        state = cut[0]
        if stop is not None and stop(last, cut):
            return state
        last = cut
    if unconverged:
        raise RuntimeError(unconverged)
    return state


def node_set(edges: DataFrame, par: int | None = None) -> DataFrame:
    """Lazy (id): every endpoint of edges(src, dst) once. With ``par`` it
    is hash-partitioned on id into ``par`` parts in one exchange (the
    ``distinct`` reuses the repartition's placement)."""
    ids = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    )
    if par:
        ids = ids.repartition(par, "id")
    return ids.distinct()


def graph(edges: DataFrame, num_partitions: int | None = None, *,
          symmetric: bool = False) -> tuple[DataFrame, DataFrame, int]:
    """The static side of a graph loop → (edges, nodes, par): the edges
    shuffled once by ``src`` into ``par`` = ``num_partitions`` (default:
    the cluster parallelism) parts and checkpointed, and their lazy
    :func:`node_set`. ``symmetric`` first adds each reversed edge and
    drops duplicates, keeping only (src, dst)."""
    par = num_partitions or edges.sparkSession.sparkContext.defaultParallelism
    if symmetric:
        edges = edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    edges = edges.repartition(par, "src").localCheckpoint(eager=True)
    return edges, node_set(edges, par), par
