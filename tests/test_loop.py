"""The shared driver loop (bigdata2016w_spark/operators/_loop.py): a Spark
job budget per iterative op, and the lint that keeps checkpoint cadences
out of hand-written loops."""

import ast
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.test_components import KNOWN_COMPONENTS, KNOWN_EDGES
from tests.test_pagerank import EDGES

PKG = Path(__file__).resolve().parent.parent / "bigdata2016w_spark"


def _ops(spark, sf_dir):
    from bigdata2016w_spark.operators import components, traversal
    from bigdata2016w_spark.operators.pagerank import personalized_pagerank
    from bigdata2016w_spark.plans.corpus_ext import bpe_learn
    from bigdata2016w_spark.sources.catalog import load_table

    e = spark.createDataFrame(EDGES, ["src", "dst"])
    known = spark.createDataFrame(KNOWN_EDGES, ["src", "dst"])
    docs = load_table(spark, sf_dir, "documents")
    return {
        "personalized_pagerank": lambda: personalized_pagerank(
            e, [0], 2, tol=1e-7, checkpoint_every=1),
        "sssp_weighted": lambda: traversal.sssp_weighted(
            e.withColumn("w", F.lit(2)), 0, 3),
        "bfs_hops": lambda: traversal.bfs_hops(e, 0, 2),
        "kcore_peel": lambda: traversal.kcore_peel(e, 2, 2),
        "lpa_communities": lambda: traversal.lpa_communities(e, 2),
        "connected_components": lambda: components.connected_components(
            known),
        "connected_components_star":
            lambda: components.connected_components_star(known),
        "bpe_learn": lambda: bpe_learn(docs, 4),
    }


# Jobs per call (final collect included, local[4], AQE off: see
# collect_counting_jobs; with AQE on PageRank measured 40-42 per call on
# the hand-written loop, 39-41 on the shared one) when each op still ran
# its own hand-written loop. Few rounds keep the test quick; every cadence path still runs: unchecked
# rounds, the final cut, the tol stop hook (pagerank), an observed probe
# (both CC variants) and BPE's cut-free last round.
PARENT_JOBS = {
    "personalized_pagerank": 10,
    "sssp_weighted": 6,
    "bfs_hops": 5,
    "kcore_peel": 4,
    "lpa_communities": 5,
    "connected_components": 6,
    "connected_components_star": 6,
    "bpe_learn": 9,
}


def collect_counting_jobs(spark, build) -> tuple[list, int]:
    """``build().collect()`` with AQE off for the call → (rows, the
    number of Spark jobs the build and the collect ran). With AQE on, a
    call's job count also holds one job per adaptive query stage, and
    how many of those run depends on which shuffle stage finishes first;
    with AQE off it is the actions plus broadcasts, the same on every
    call."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "job-count pin")
    try:
        rows = build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op", list(PARENT_JOBS))
def test_loop_job_budget(spark, sf_dir, op):
    """No loop op runs more Spark jobs per call than its hand-written
    loop did: the shared loop adds no action to any round. CC's
    changed-label probe, for one, rides on the round's checkpoint job.
    Both CC variants must also label the known graph exactly."""
    rows, jobs = collect_counting_jobs(spark, _ops(spark, sf_dir)[op])
    assert rows
    if op.startswith("connected_components"):
        assert {r.id: r.component for r in rows} == KNOWN_COMPONENTS
    assert 0 < jobs <= PARENT_JOBS[op], jobs


LOOP_MODULES = ("operators/pagerank.py", "operators/traversal.py",
                "operators/components.py", "plans/corpus_ext.py")


def _checkpoints_in_loops(path: Path) -> list[str]:
    """``for``/``while`` loops whose body calls ``localCheckpoint`` or a
    ``checkpoint`` helper."""
    found = []
    for loop in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(loop, (ast.For, ast.While)):
            continue
        for node in (n for stmt in loop.body + loop.orelse
                     for n in ast.walk(stmt)):
            f = getattr(node, "func", None)
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", "")
            if name in ("localCheckpoint", "checkpoint", "_checkpoint"):
                found.append(f"{path.name}:{loop.lineno}")
                break
    return found


def test_iterative_ops_share_one_loop():
    """Checkpoint cadence and convergence probes are written once, in
    operators/_loop.py: no iterative op checkpoints inside a loop of its
    own (each passes a step function to ``iterate``)."""
    findings = [f for rel in LOOP_MODULES
                for f in _checkpoints_in_loops(PKG / rel)]
    assert findings == []
