"""Tests for inverted index + RPN boolean retrieval (SURVEY §2, a3/a7)."""

import pytest

from bigdata2016w_spark.registry import all_specs
from tests.oracle import compare_spark_duckdb

NAMES = ["index_stats", "term_postings", "retrieval_and", "retrieval_or_and"]


@pytest.mark.parametrize("name", NAMES)
def test_retrieval_matches_oracle(name, spark, sf_dir, duck):
    spec = all_specs()[name]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_grouped_postings_sorted_and_consistent(spark, sf_dir):
    """Nested postings form: df == len(postings), docids strictly sorted
    (the secondary-sort invariant of BuildInvertedIndexCompressed.java:89-91)."""
    import pyspark.sql.functions as F

    from bigdata2016w_spark.operators.retrieval import postings_grouped
    from bigdata2016w_spark.sources.catalog import load_table

    g = postings_grouped(load_table(spark, sf_dir, "documents"))
    bad = g.where(
        (F.size("postings") != F.col("df"))
        | (F.size("postings") != F.size(F.array_distinct("postings.docid")))
        | (F.col("postings") != F.sort_array("postings"))
    )
    assert bad.count() == 0
    assert g.count() > 0


def test_rpn_evaluator_semantics(spark):
    """AND/OR stack semantics on a tiny corpus with known postings."""
    from bigdata2016w_spark.operators.retrieval import eval_rpn, postings_flat

    docs = spark.createDataFrame(
        [(1, "cat dog"), (2, "cat bird"), (3, "dog bird"), (4, "cat dog bird")],
        ["doc_id", "text"],
    )
    p = postings_flat(docs)

    def ids(q):
        return sorted(r[0] for r in eval_rpn(p, q).collect())

    assert ids("cat dog AND") == [1, 4]
    assert ids("cat dog OR") == [1, 2, 3, 4]
    assert ids("cat bird AND dog OR") == [1, 2, 3, 4]
    assert ids("dog bird AND cat AND") == [4]
    with pytest.raises(ValueError):
        eval_rpn(p, "cat dog")


def test_bm25_matches_oracle(spark, sf_dir, duck):
    spec = all_specs()["retrieval_bm25"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


# Jobs per call (final collect included, local[4], AQE off): the
# one-row corpus stats' broadcast, which runs the per-doc aggregate's
# shuffle, and the top-k; hybrid adds its kNN side. Scanning documents
# once per statistic ran 6 and 8.
BM25_JOBS = {"retrieval_bm25": 3, "hybrid_search_rrf": 5}


@pytest.mark.parametrize("name", list(BM25_JOBS))
def test_bm25_job_budget(spark, sf_dir, name):
    """BM25 reads documents in one tokenized pass: the corpus statistics
    come from the same exchange as dl and tf, not from extra scans."""
    from tests.test_loop import collect_counting_jobs

    fn = all_specs()[name].fn
    rows, jobs = collect_counting_jobs(spark, lambda: fn(spark, sf_dir))
    assert rows
    assert 0 < jobs <= BM25_JOBS[name], jobs


def test_bm25_ranks_term_rich_docs_first(spark):
    from bigdata2016w_spark.operators.retrieval import bm25_rank

    docs = spark.createDataFrame(
        [(1, "cat cat cat dog"), (2, "cat dog bird fish snake lizard"),
         (3, "bird fish"), (4, "cat")],
        ["doc_id", "text"],
    )
    out = bm25_rank(docs, ["cat"], k=3).collect()
    assert out[0]["docid"] == 1          # highest tf, short doc
    assert {r["docid"] for r in out} == {1, 2, 4}


def test_phrase_query_oracle(spark, sf_dir, duck):
    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    spec = all_specs()["retrieval_phrase"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_phrase_query_known_corpus(spark):
    from bigdata2016w_spark.operators.retrieval import phrase_query

    docs = spark.createDataFrame(
        [
            (1, "big data is big fun with big data"),
            (2, "data big"),
            (3, "big data big data big data"),
        ],
        ["doc_id", "text"],
    )
    got = {r.docid: r.n_matches
           for r in phrase_query(docs, ["big", "data"]).collect()}
    assert got == {1: 2, 3: 3}
    got3 = {r.docid: r.n_matches
            for r in phrase_query(docs, ["big", "data", "big"]).collect()}
    assert got3 == {3: 2}


def test_proximity_query_oracle(spark, sf_dir, duck):
    s = all_specs()["retrieval_proximity"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_proximity_query_known_corpus(spark):
    from bigdata2016w_spark.operators.retrieval import proximity_query

    docs = spark.createDataFrame(
        [
            # positions: merge@0, sort@2 -> d=2 (one pair in w=2)
            (1, "merge data sort"),
            # merge@0, sort@4 -> d=4, outside w=2
            (2, "merge a b c sort"),
            # merge@{0,3}, sort@{1,5}: pairs d=1,5,2,2 -> three <= 2
            (3, "merge sort x merge a sort"),
            (4, "no terms here"),
            (5, "merge merge only"),
        ],
        ["doc_id", "text"],
    )
    got = {r.docid: (r.n_pairs, r.min_dist)
           for r in proximity_query(docs, "merge", "sort", 2).collect()}
    assert got == {1: (1, 2), 3: (3, 1)}
    # unordered: swapping the terms yields identical results
    swapped = {r.docid: (r.n_pairs, r.min_dist)
               for r in proximity_query(docs, "sort", "merge", 2).collect()}
    assert swapped == got
