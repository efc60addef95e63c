"""Connected components: unit graph + oracle-backed dedup clustering."""

import pytest

from bigdata2016w_spark.registry import all_specs
from tests.oracle import compare_spark_duckdb

# components: {1,2,3,4} (path), {10,11}, {20,21,22} (triangle); the star
# variant is checked against KNOWN_COMPONENTS in tests/test_loop.py
KNOWN_EDGES = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
KNOWN_COMPONENTS = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_cc_known_graph(spark):
    from bigdata2016w_spark.operators.components import connected_components

    edges = spark.createDataFrame(KNOWN_EDGES, ["src", "dst"])
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == KNOWN_COMPONENTS


def test_cc_round_is_one_action(spark):
    """Each min-label round is one checkpoint job chain with the changed-
    label count observed on it — no separate count()/join probe job. The
    7-edge graph has diameter 3, so it takes 4 rounds (the last a no-op);
    a separate probe costs ~5.5 more jobs per round."""
    import uuid

    from bigdata2016w_spark.operators.components import connected_components

    edges = spark.createDataFrame(KNOWN_EDGES, ["src", "dst"])
    sc = spark.sparkContext
    group = f"cc-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connected_components job-count pin")
    try:
        got = {r.id: r.component
               for r in connected_components(edges).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got[4] == 1 and got[22] == 20
    rounds = 4
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 6 * rounds, jobs


def test_cc_long_path_converges(spark):
    from bigdata2016w_spark.operators.components import connected_components

    n = 15
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


@pytest.mark.parametrize("variant, cap, n", [
    ("connected_components", {"max_iters": 2}, 15),
    ("connected_components_star", {"max_rounds": 1}, 63),
])
def test_cc_refuses_unconverged_labels(spark, variant, cap, n):
    """Running out of rounds raises instead of returning partial labels."""
    from bigdata2016w_spark.operators import components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        getattr(components, variant)(edges, **cap)


def test_dedup_clusters_matches_oracle(spark, sf_dir, duck):
    spec = all_specs()["dedup_clusters"]
    out = spec.fn(spark, sf_dir)
    compare_spark_duckdb(out, duck, spec.oracle)


def test_cluster_reps_are_members(spark, sf_dir):
    import pyspark.sql.functions as F

    out = all_specs()["dedup_clusters"].fn(spark, sf_dir)
    rows = out.collect()
    ids = {r.doc_id for r in rows}
    assert all(r.cluster_rep in ids and r.cluster_rep <= r.doc_id for r in rows)


def test_star_cc_long_path(spark):
    """Worst case for min-label propagation (rounds = diameter) is the
    motivating case for large-star/small-star (rounds = O(log n))."""
    from bigdata2016w_spark.operators.components import (
        connected_components_star,
    )

    n = 63
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    got = {r.id: r.component
           for r in connected_components_star(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_star_cc_agrees_with_min_label(spark):
    """Both algorithms must produce identical (id → min-of-component)
    labelings on a seeded random graph."""
    import random

    from bigdata2016w_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    # self-loops (70 has no other edge), repeated and reversed edges stay
    # in: the min-label variant adds self-loops of its own to the edge set
    edges += [(5, 5), (70, 70)] + edges[:5] + [(d, s) for s, d in edges[5:10]]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {r.id: r.component for r in connected_components(df).collect()}
    b = {r.id: r.component for r in connected_components_star(df).collect()}
    assert a == b
    assert a[70] == 70


def test_dedup_clusters_star_matches_oracle(spark, sf_dir, duck):
    spec = all_specs()["dedup_clusters_star"]
    out = spec.fn(spark, sf_dir)
    compare_spark_duckdb(out, duck, spec.oracle)


def test_dup_cluster_labeling_is_built_once_per_session(spark, tmp_path,
                                                        monkeypatch):
    """After one ``dedup_clusters`` call, ``dedup_keep_best`` and
    ``documents_leakage_safe_split`` read the session's labeling and run
    no components round. ``dedup_clusters_star`` keeps a labeling of its
    own, so its first call still runs the star algorithm. Forgetting the
    shared pairs forgets the labelings built from them."""
    import functools

    from bigdata2016w_spark.plans import pipeline

    loops: list[str] = []
    for name in ("connected_components", "connected_components_star"):
        def counted(edges, _cc=getattr(pipeline, name)):
            loops.append(_cc.__name__)
            return _cc(edges)

        monkeypatch.setattr(pipeline, name,
                            functools.wraps(getattr(pipeline, name))(counted))

    text = ("the quick brown fox jumps over the lazy dog while rain falls "
            "on green hills and birds sing {} songs at dawn today")
    spark.createDataFrame(
        [(1, text.format("happy"), "en", "s", 1),
         (2, text.format("sad"), "en", "s", 1),
         (3, "completely unrelated text about spark shuffles and joins "
             "nothing shared with the others at all in any window", "en",
          "s", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    d = str(tmp_path)

    clusters = {(r.doc_id, r.cluster_rep)
                for r in pipeline.dedup_clusters(spark, d).collect()}
    assert clusters == {(1, 1), (2, 1)}
    assert loops == ["connected_components"]
    [best] = pipeline.dedup_keep_best(spark, d).collect()
    assert (best.cluster_rep, best.n_members) == (1, 2)
    split = {r.doc_id: r.cluster_rep for r in
             pipeline.documents_leakage_safe_split(spark, d).collect()}
    assert split == {1: 1, 2: 1, 3: 3}
    assert pipeline.dedup_clusters(spark, d).collect()
    assert loops == ["connected_components"]

    star = {(r.doc_id, r.cluster_rep)
            for r in pipeline.dedup_clusters_star(spark, d).collect()}
    assert star == clusters
    assert loops == ["connected_components", "connected_components_star"]

    pipeline.forget_jaccard_pairs(spark, d)
    pipeline.dedup_keep_best(spark, d).collect()
    pipeline.dedup_clusters_star(spark, d).collect()
    assert loops == ["connected_components", "connected_components_star"] * 2
