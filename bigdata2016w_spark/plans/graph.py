"""Registered graph queries (a4).

``pagerank_top10`` IS oracle-backed despite being iterative: the fixed
10-iteration power iteration unrolls into a chain of 30 plain CTEs
(link/miss/rank per iteration — no recursive CTE, no aggregation over a
recursive reference), generated programmatically below. Float caveats
handled: the SQL writes ``(1.0 - 0.15)`` wherever the engine computes
``1.0 - alpha`` (the double literal 0.85 is a DIFFERENT value), and the
6-decimal output rounding absorbs summation-order drift (≤ ~1e-13 over
10 iterations on [0,1]-scale ranks). The pytest suite additionally
checks against a NumPy power-iteration oracle at 1e-12, replacing the
reference's JUNG sequential validator
(``JAVA/assignment4/SequentialPersonalizedPageRank.java:117-126``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata2016w_spark.operators.pagerank import personalized_pagerank, top_k_per_source
from bigdata2016w_spark.registry import QuerySpec, register
from bigdata2016w_spark.sources.catalog import load_table

PR_SOURCES = [0, 1]
PR_ITERS = 10
PR_MOD = 200


def order_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic directed graph derived from the orders table:
    src = o_custkey mod 200, dst = o_orderkey mod 200. ~200 nodes with
    skewed in-degree at every scale factor — a stable rows-only fixture."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            (F.col("o_custkey") % PR_MOD).alias("src"),
            (F.col("o_orderkey") % PR_MOD).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


# DuckDB twins of order_graph_edges and of its node set, as the first CTEs
# of every unrolled-loop oracle
EDGES_CTE = f"""e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % {PR_MOD} AS src, o_orderkey % {PR_MOD} AS dst
  FROM orders WHERE o_custkey % {PR_MOD} <> o_orderkey % {PR_MOD}
)"""
NODES_CTE = (
    "nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e)"
)


def pagerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 personalized PageRank per source over the orders-derived
    graph (sources 0 and 1, 10 iterations, α=0.15)."""
    edges = order_graph_edges(spark, sf_dir)
    # ~200 nodes: small explicit partitioning — 32-way shuffles of a
    # 200-row table would be pure empty-task overhead × 10 iterations
    ranks = personalized_pagerank(
        edges, PR_SOURCES, num_iters=PR_ITERS, num_partitions=4
    )
    return top_k_per_source(ranks, PR_SOURCES, k=10)


def _pagerank_sql(sources: list[int], iters: int, k: int = 10) -> str:
    """Unroll the exact engine iteration (``iteration`` in
    operators/pagerank.py) into chained CTEs: link = Σ_in rank/deg,
    miss = 1 − Σ link, rank' = (1−α)·(link + miss·[id=s]) + α·[id=s]."""
    # every CTE is MATERIALIZED: each iteration references the previous
    # one from two places, so inlining (DuckDB's default for single-ref
    # CTEs and older versions) would expand the 10-level chain into 2^10
    # plan copies
    rcols = list(range(len(sources)))
    parts = [f"""
{EDGES_CTE},
{NODES_CTE},
deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
i0 AS MATERIALIZED (
  SELECT id, {', '.join(
      f'CASE WHEN id = {s} THEN 1.0 ELSE 0.0 END AS r{i}'
      for i, s in zip(rcols, sources))}
  FROM nodes
)"""]
    for t in range(1, iters + 1):
        sums = ", ".join(f"sum(r.r{i} / d.d) AS s{i}" for i in rcols)
        miss = ", ".join(
            f"1.0 - coalesce(sum(s{i}), 0.0) AS m{i}" for i in rcols
        )
        ranks = ", ".join(
            f"(1.0 - 0.15) * (coalesce(l.s{i}, 0.0)"
            f" + CASE WHEN n.id = {s} THEN m.m{i} ELSE 0.0 END)"
            f" + CASE WHEN n.id = {s} THEN 0.15 ELSE 0.0 END AS r{i}"
            for i, s in zip(rcols, sources)
        )
        parts.append(f"""
l{t} AS MATERIALIZED (
  SELECT e.dst AS id, {sums}
  FROM i{t-1} r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
m{t} AS MATERIALIZED (SELECT {miss} FROM l{t}),
i{t} AS MATERIALIZED (
  SELECT n.id, {ranks}
  FROM nodes n LEFT JOIN l{t} l ON n.id = l.id CROSS JOIN m{t} m
)""")
    union = " UNION ALL ".join(
        f"SELECT {s} AS source, id, r{i} AS rank FROM i{iters}"
        for i, s in zip(rcols, sources)
    )
    return f"""
WITH {','.join(parts)},
u AS ({union}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY rank DESC, id ASC) AS rn
  FROM u
)
SELECT source, id, round(rank, 6) AS rank FROM ranked WHERE rn <= {k}
"""


register(QuerySpec("pagerank_top10", pagerank_top10,
                   _pagerank_sql(PR_SOURCES, PR_ITERS),
                   doc=pagerank_top10.__doc__))


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the orders-derived graph (undirected,
    deduped) plus the closing third node — returned as (node,
    n_triangles) for every node on ≥1 triangle.

    The MR-classic algorithm, Spark-first: canonicalize edges a<b, orient
    each edge from its lower-degree endpoint (ties by id), build wedges by
    joining oriented edges on the pivot, then close each wedge against the
    canonical edge set. Degree orientation bounds per-pivot fanout by
    O(sqrt(|E|)), which is what keeps the wedge join subquadratic on
    skewed 100 TB graphs; every step is an equi-join or hash aggregate.
    """
    edges = order_graph_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n")).union(und.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    # orient: keep (lo, hi) by (degree, id) so every wedge pivot is the
    # lowest-ranked of its triangle
    ranked = (
        und.join(deg.withColumnsRenamed({"n": "a", "d": "da"}), "a")
        .join(deg.withColumnsRenamed({"n": "b", "d": "db"}), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    wedges = (
        ranked.alias("x")
        .join(ranked.alias("y"), "lo")
        .where(F.col("x.hi") < F.col("y.hi"))
        .select("lo", F.col("x.hi").alias("u"), F.col("y.hi").alias("v"))
    )
    tri = wedges.join(
        und,
        (F.least("u", "v") == F.col("a")) & (F.greatest("u", "v") == F.col("b")),
    ).select("lo", "u", "v")
    # one explode, not a 3-way union: a union would re-execute the whole
    # wedge-join subtree once per branch (plan-audited — 3x the exchanges)
    per_node = (
        tri.select(F.explode(F.array("lo", "u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


_TRIANGLES_SQL = f"""
WITH e AS (
  SELECT DISTINCT least(o_custkey % {PR_MOD}, o_orderkey % {PR_MOD}) AS a,
                  greatest(o_custkey % {PR_MOD}, o_orderkey % {PR_MOD}) AS b
  FROM orders
  WHERE o_custkey % {PR_MOD} <> o_orderkey % {PR_MOD}
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
nodes AS (
  SELECT x AS node FROM tri UNION ALL
  SELECT y FROM tri UNION ALL
  SELECT z FROM tri
)
SELECT node, count(*) AS n_triangles FROM nodes GROUP BY node
"""

register(QuerySpec("graph_triangles", graph_triangles, _TRIANGLES_SQL,
                   doc=graph_triangles.__doc__))
