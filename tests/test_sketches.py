"""Sketch & fingerprint tests: winnowing, KMV, HLL, CMS, and the
embedding eval/quantization queries — oracle parity plus the semantic
guarantees each sketch advertises (winnowing's shared-span guarantee,
CMS's never-underestimate, distinct-sketch error bounds, quantization
error ≤ half a step)."""

import pytest
from pyspark.sql import functions as F

from bigdata2016w_spark.registry import all_specs
from tests.oracle import compare_spark_duckdb

ORACLE_BACKED = [
    "doc_winnow_fingerprints", "winnow_dup_candidates",
    "shingles_kmv_distinct", "shingles_hll_distinct",
    "events_cms_heavy_users", "ann_recall_eval", "knn_label_vote",
    "embedding_int8_quant",
]


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_sketches_match_oracle(name, spark, sf_dir, duck):
    spec = all_specs()[name]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_winnow_shared_span_guarantee(spark):
    """Schleimer et al.'s theorem: two docs sharing a token span of
    ≥ k + w - 1 tokens must share at least one fingerprint; docs with
    fully disjoint vocabularies share none."""
    from bigdata2016w_spark.operators.sketches import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    span = " ".join(f"shared{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    docs = spark.createDataFrame(
        [
            (0, f"alpha bravo charlie delta echo foxtrot {span} golf hotel"),
            (1, f"india juliet kilo lima mike {span} november oscar papa"),
            (2, "one two three four five six seven eight nine ten "
                "eleven twelve thirteen fourteen"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs).collect()
    by_doc = {d: {r.fingerprint for r in fps if r.doc_id == d}
              for d in (0, 1, 2)}
    assert by_doc[0] & by_doc[1], "shared span must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])


def test_winnow_density(spark, sf_dir):
    """Winnowing selects ~2/(w+1) of the k-gram positions; distinct
    fingerprints per doc must be well below the gram count but > 0 for
    every doc long enough to have a complete window."""
    from bigdata2016w_spark.functions.tokenizer import tokenize
    from bigdata2016w_spark.operators.sketches import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    eligible = docs.where(
        F.size(tokenize("text")) >= WINNOW_K + WINNOW_W - 1
    ).count()
    per_doc = (
        winnow_fingerprints(docs)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(per_doc) == eligible
    total_grams = (
        docs.select(
            (F.size(tokenize("text")) - (WINNOW_K - 1)).alias("g")
        ).where(F.col("g") > 0).agg(F.sum("g")).first()[0]
    )
    total_fps = sum(r.n for r in per_doc)
    # distinct-per-doc undercounts repeated mins; 2/(w+1) is the position
    # density upper envelope, 1/w the floor
    assert total_fps <= total_grams * 2.5 / (WINNOW_W + 1)
    assert total_fps >= total_grams / (2 * WINNOW_W)


def test_cms_never_underestimates(spark, sf_dir):
    """Count-Min point estimates dominate true counts for EVERY key, and
    every truly-heavy key appears in the report (no false negatives)."""
    from bigdata2016w_spark.operators.sketches import cms_heavy_keys
    from bigdata2016w_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    out = cms_heavy_keys(events.select("user_id"), "user_id", 1.15).collect()
    assert all(r.est_count >= r.true_count for r in out)
    true = {
        str(r.user_id): r.c
        for r in events.where(F.col("user_id").isNotNull())
        .groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    mean = sum(true.values()) / len(true)
    heavy = {k for k, c in true.items() if c >= mean * 1.15}
    reported = {r.key for r in out}
    assert heavy <= reported


def test_distinct_sketch_error_bounds(spark, sf_dir):
    """KMV (k=64) and HLL (m=256) estimates land within loose multiples
    of their standard errors (1/sqrt(64) = 12.5%, 1.04/16 = 6.5%) of the
    exact distinct count they carry alongside."""
    kmv = all_specs()["shingles_kmv_distinct"].fn(spark, sf_dir).first()
    assert abs(kmv.est_distinct - kmv.exact_distinct) \
        <= 0.5 * kmv.exact_distinct
    hll = all_specs()["shingles_hll_distinct"].fn(spark, sf_dir).first()
    assert abs(hll.est_distinct - hll.exact_distinct) \
        <= 0.3 * hll.exact_distinct


def test_hll_exact_integer_harmonics(spark):
    """A register set built from known hashes: a single value fills one
    bucket; isum must equal 2^(53-rho) + 255*2^53 exactly (the integer
    harmonic invariant that makes the estimate order-independent)."""
    from bigdata2016w_spark.operators.sketches import HLL_M, hll_distinct

    one = spark.createDataFrame([("only",)], "s string")
    row = hll_distinct(one, "s").first()
    assert row.m_filled == 1
    assert (row.isum - (HLL_M - 1) * (1 << 53)) & (
        (row.isum - (HLL_M - 1) * (1 << 53)) - 1
    ) == 0, "single register term must be a power of two"
    assert row.exact_distinct == 1


def test_int8_quant_error_bound(spark, sf_dir):
    """Reconstruction error of symmetric int8 quantization is bounded by
    half a quantization step per dimension."""
    out = all_specs()["embedding_int8_quant"].fn(spark, sf_dir).collect()
    assert len(out) == 64
    for r in out:
        assert r.max_abs_err <= r.scale / 2 + 1e-12
        assert 0.0 <= r.mean_abs_err <= r.max_abs_err + 2 ** -24


def test_ann_recall_and_vote_shapes(spark, sf_dir):
    """recall ∈ [0,1] with n_hits/k consistency; the label vote is
    bounded by k and the predicted label exists among neighbor labels."""
    rec = all_specs()["ann_recall_eval"].fn(spark, sf_dir).collect()
    assert len(rec) == 5
    for r in rec:
        assert 0.0 <= r.recall <= 1.0 and r.recall == r.n_hits / 10.0
    votes = all_specs()["knn_label_vote"].fn(spark, sf_dir).collect()
    assert len(votes) == 5
    assert all(1 <= r.votes <= 10 for r in votes)


def test_kmv_merge_equals_global(spark, sf_dir):
    """The KMV sketch's mergeability: the k smallest of a 2-way split's
    k-smallest union equal the global k smallest (what the distributed
    TakeOrdered plan relies on)."""
    from bigdata2016w_spark.operators.dedup import (
        portable_hash60,
        shingle_sets,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_sets(docs).select(
        "doc_id", F.explode("shingles").alias("s")
    ).select("doc_id", portable_hash60(F.col("s"), "KMV").alias("h"))
    k = 64
    left = sh.where(F.col("doc_id") % 2 == 0).select("h").distinct() \
        .orderBy("h").limit(k)
    right = sh.where(F.col("doc_id") % 2 == 1).select("h").distinct() \
        .orderBy("h").limit(k)
    merged = sorted({r.h for r in left.collect()}
                    | {r.h for r in right.collect()})[:k]
    global_k = [r.h for r in sh.select("h").distinct()
                .orderBy("h").limit(k).collect()]
    assert merged == global_k


@pytest.mark.parametrize("name", ["shingles_kmv_lang_overlap",
                                  "orders_bloom_probe",
                                  "winnow_cross_candidates"])
def test_sketch_algebra_matches_oracle(name, spark, sf_dir, duck):
    spec = all_specs()[name]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_bloom_no_false_negatives_and_fp_bound(spark, sf_dir):
    """A Bloom filter never drops a member; with n*d/m ≈ 0.23 load the
    false-positive rate must stay below a loose 5% of non-members."""
    row = all_specs()["orders_bloom_probe"].fn(spark, sf_dir).first()
    assert row.n_false_negatives == 0
    assert row.n_passed == row.n_members + row.n_false_positives
    non_members = row.n_probe_keys - row.n_members
    if non_members:
        assert row.n_false_positives / non_members <= 0.05


def test_bloom_membership_is_exactly_bitmap(spark):
    """Planted keys: every build key passes its own filter; a disjoint
    probe set yields only (rare) false positives, never misses."""
    from bigdata2016w_spark.operators.sketches import bloom_probe_summary

    build = spark.createDataFrame([(i,) for i in range(50)], "k long")
    self_probe = bloom_probe_summary(build, build, "k", "k").first()
    assert self_probe.n_passed == self_probe.n_members == 50
    other = spark.createDataFrame([(i,) for i in range(1000, 1100)],
                                  "k long")
    cross = bloom_probe_summary(build, other, "k", "k").first()
    assert cross.n_members == 0 and cross.n_false_negatives == 0


def test_kmv_set_ops_consistency(spark, sf_dir):
    """The union estimate from the two sketches alone must equal the
    estimate a single KMV built over the concatenated stream would give
    (same k-min set), and the intersection estimate must be positive
    when slices genuinely overlap."""
    from bigdata2016w_spark.operators.sketches import (
        kmv_distinct,
        kmv_set_ops,
    )
    from bigdata2016w_spark.operators.dedup import shingle_sets
    from bigdata2016w_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    a = shingle_sets(docs.where(F.col("lang") == "en")).select(
        F.explode("shingles").alias("s"))
    b = shingle_sets(docs.where(F.col("lang") != "en")).select(
        F.explode("shingles").alias("s"))
    ops = kmv_set_ops(a, b, "s").first()
    single = kmv_distinct(a.union(b), "s").first()
    assert ops.kth_union == single.kth_min
    assert ops.est_union == single.est_distinct
    assert ops.exact_intersection > 0
    assert ops.est_intersection > 0


def test_sketch_estimates_zero_not_null_on_empty(spark):
    """Empty (or all-NULL) input streams: every estimate is 0, never
    NULL — consumers threshold and do arithmetic on these."""
    from bigdata2016w_spark.operators.sketches import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_registers,
        kmv_distinct,
        kmv_set_ops,
    )

    empty = spark.createDataFrame([], "s string")
    k = kmv_distinct(empty, "s").first()
    assert k.k_used == 0 and k.est_distinct == 0.0
    assert k.exact_distinct == 0
    h = hll_distinct(empty, "s").first()
    assert h.m_filled == 0 and h.est_distinct == 0.0
    assert h.isum is not None
    e = hll_estimate_from_registers(hll_registers(empty, "s")).first()
    assert e.est_distinct == 0.0
    so = kmv_set_ops(empty, empty, "s").first()
    assert so.est_union == 0.0 and so.est_intersection == 0.0


def test_kmv_underfilled_sketch_is_exact(spark):
    """A sketch with k_used < k has seen every distinct hash, so the
    estimate must be the exact count (standard KMV small-stream regime)
    — the (k-1)·2^60/kth_min cap formula would report 0.0 for a stream
    with exactly one distinct value. Same for the set-ops union sketch:
    under-filled union ⇒ both inputs complete ⇒ n_common IS the
    intersection."""
    from bigdata2016w_spark.operators.sketches import (
        kmv_distinct,
        kmv_set_ops,
    )

    one = spark.createDataFrame([("only",)] * 5, "s string")
    r = kmv_distinct(one, "s").first()
    assert r.k_used == 1 and r.est_distinct == 1.0 and r.exact_distinct == 1

    few = spark.createDataFrame([(f"v{i}",) for i in range(7)], "s string")
    r = kmv_distinct(few, "s").first()
    assert r.k_used == 7 and r.est_distinct == 7.0

    a = spark.createDataFrame([("x",), ("y",), ("z",)], "s string")
    b = spark.createDataFrame([("y",), ("z",), ("w",)], "s string")
    so = kmv_set_ops(a, b, "s").first()
    assert so.k_union == 4 and so.est_union == 4.0
    assert so.n_common == 2 and so.est_intersection == 2.0
    assert so.exact_union == 4 and so.exact_intersection == 2


def test_winnow_cross_probe_vs_index_only(spark):
    """Cross winnowing pairs probe docs with index docs only: a probe
    doc sharing a long span with an index doc is caught (the k+w-1
    guarantee crosses the corpus boundary); two probe docs sharing a
    span with only each other are NOT reported."""
    from bigdata2016w_spark.operators.sketches import (
        winnow_cross_candidates,
    )

    def w(i):
        return f"w{chr(97 + i // 26)}{chr(97 + i % 26)}"

    span = " ".join(w(i) for i in range(40, 48))      # 8 tokens = k+w-1
    probe_only = " ".join(w(i) for i in range(60, 68))
    index = spark.createDataFrame(
        [(1, " ".join(w(i) for i in range(20)) + " " + span)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, span + " " + " ".join(w(i) for i in range(26, 36))),
         (101, probe_only + " alpha beta gamma delta"),
         (102, probe_only + " epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    got = {(r.probe_id, r.index_id)
           for r in winnow_cross_candidates(index, probe).collect()}
    # exactly the cross-boundary pair: 101/102 share a span only with
    # EACH OTHER (probe-probe, out of scope) and nothing with the index
    assert got == {(100, 1)}


def test_quantile_sketch_oracle_and_accuracy(spark, sf_dir, duck):
    """Hash-sample quantile sketch: bit-exact oracle parity, every
    estimate is an ACTUAL data value, and with k=128 of the orders
    table each estimate's true rank sits near q (binomial bound: ±0.15
    is > 3 sigma at k=128)."""
    from bigdata2016w_spark.registry import all_specs
    from bigdata2016w_spark.sources.catalog import load_table
    from tests.oracle import compare_spark_duckdb

    spec = all_specs()["orders_price_quantile_sketch"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    rows = spec.fn(spark, sf_dir).collect()
    prices = sorted(
        r.o_totalprice for r in
        load_table(spark, sf_dir, "orders").select("o_totalprice").collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert r.n_rows == len(prices)
        assert r.est in prices                      # actual data value
        true_rank = sum(p <= r.est for p in prices) / len(prices)
        assert abs(true_rank - r.q) < 0.15, (r.q, true_rank)


def test_quantile_sketch_merge_equals_global(spark):
    """The sketch of a union must equal the k-smallest-of-union merge of
    the two halves' sketches — the KMV merge property, which is what
    makes the sample maintainable per-shard at 100 TB."""
    from bigdata2016w_spark.operators.sketches import (
        QSK_K,
        hash_sample_quantiles,
        portable_hash60,
    )
    import pyspark.sql.functions as F

    rows = [(i, float((i * 37) % 1000)) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, x double")
    a, b = df.where("k < 300"), df.where("k >= 300")

    def sample_set(part):
        s = part.select(
            portable_hash60(F.col("k").cast("string"), "QSK").alias("h"),
            F.col("x"),
        ).orderBy("h", "x").limit(QSK_K)
        return [(r.h, r.x) for r in s.collect()]

    merged = sorted(set(sample_set(a)) | set(sample_set(b)))[:QSK_K]
    global_s = sorted(sample_set(df))
    assert merged == global_s
    # and the quantile rows derived from the global sketch are stable
    got = {r.q: r.est
           for r in hash_sample_quantiles(df, "k", "x").collect()}
    xs = sorted(x for _, x in global_s)
    import math
    for q, est in got.items():
        assert est == xs[math.ceil(q * len(xs)) - 1]


def test_quantile_sketch_empty_input(spark):
    """Empty input: one row per requested quantile with NULL est and
    zero counts — never an element_at raise (the F.get contract)."""
    from bigdata2016w_spark.operators.sketches import (
        hash_sample_quantiles,
    )

    empty = spark.createDataFrame([], "k long, x double")
    rows = hash_sample_quantiles(empty, "k", "x").collect()
    assert len(rows) == 5
    assert all(r.est is None and r.k_used == 0 and r.n_rows == 0
               for r in rows)


def test_hll_daily_rollup_oracle(spark, duck, sf_dir):
    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    s = all_specs()["events_hll_daily_rollup"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_hll_rollup_merge_equals_direct_day_grain(spark, sf_dir):
    """The re-aggregation property in-engine: hourly register partials
    max-merged to day grain are IDENTICAL to registers built directly
    at day grain (associativity of max) — the invariant that lets a
    100-TB cube persist fine partials once and serve every coarser
    grain from metadata."""
    from bigdata2016w_spark.operators.sketches import hll_registers_by
    from bigdata2016w_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    keyed = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("day"),
        F.date_format(F.date_trunc("hour", F.col("ts")),
                      "yyyy-MM-dd HH:mm:ss").alias("hr"),
        F.col("user_id").cast("string").alias("u"),
    )
    rolled = (
        hll_registers_by(keyed, ["event_type", "day", "hr"], "u", "HLLU")
        .groupBy("event_type", "day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    direct = hll_registers_by(keyed, ["event_type", "day"], "u", "HLLU")
    assert sorted(map(tuple, rolled.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_hll_rollup_estimates_within_error_bound(spark, sf_dir):
    """Every per-group estimate lands within 15% of the exact count —
    ~2.3 standard errors at p=8 (1.04/sqrt(256) ~ 6.5%), and the
    linear-counting branch is far tighter at these cardinalities."""
    from bigdata2016w_spark.registry import all_specs

    rows = all_specs()["events_hll_daily_rollup"].fn(
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0
        rel = abs(r["est_distinct"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 0.15, (r["event_type"], r["day"], rel)


def test_winsorized_mean_oracle(spark, duck, sf_dir):
    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    s = all_specs()["orders_winsorized_mean"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_winsorized_mean_resists_planted_outlier(spark, tmp_path):
    """999 orders at 100.00 plus one at 1,000,000.00: the raw mean is
    dragged ~1000 up, the winsorized mean must stay at 100.00 exactly
    (p05 = p95 = 100 in the sample, outlier clipped to the bound)."""
    from datetime import datetime

    from bigdata2016w_spark.plans.sketches import orders_winsorized_mean

    rows = [(i, 1, "O", 100.00, datetime(2024, 1, 1), "1-URGENT")
            for i in range(999)]
    rows.append((999, 1, "O", 1_000_000.00, datetime(2024, 1, 1),
                 "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = orders_winsorized_mean(spark, str(tmp_path)).collect()[0]
    assert r["winsorized_mean"] == 100.0
    assert r["raw_mean"] > 1000.0
    assert r["lo_bound"] == r["hi_bound"] == 100.0
    # the planted outlier is the only row above the upper bound... if it
    # landed in the 128-row sample the bound would still be 100 (order
    # statistic of a 99.9%-constant sample)
    assert r["n_clipped_hi"] == 1 and r["n_clipped_lo"] == 0


# ------------------------------------------- streamed winnow admission

def test_winnow_admission_matches_oracle(spark, duck, sf_dir):
    s = all_specs()["documents_winnow_admission"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_winnow_admission_ledger_invariants(spark, sf_dir):
    """Structural invariants the oracle can't state: batch 0 holds only
    even doc_ids and batch 1 only odd (the split really drove the
    micro-batch order), no doc admitted twice, no admitted batch-1 text
    exactly duplicates an admitted batch-0 text (the cross-batch exact
    gate held), and both batches admitted something."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.plans.sketches import (
        documents_winnow_admission,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    rows = documents_winnow_admission(spark, sf_dir).collect()
    b0 = {r.doc_id for r in rows if r.batch == 0}
    b1 = {r.doc_id for r in rows if r.batch == 1}
    assert b0 and b1 and not (b0 & b1)
    assert all(i % 2 == 0 for i in b0)
    assert all(i % 2 == 1 for i in b1)
    docs = load_table(spark, sf_dir, "documents")
    texts0 = {r.text for r in
              docs.where(F.col("doc_id").isin(b0)).collect()}
    texts1 = {r.text for r in
              docs.where(F.col("doc_id").isin(b1)).collect()}
    assert not (texts0 & texts1)


def test_streamed_sketch_state_matches_oracle(spark, duck, sf_dir):
    s = all_specs()["events_streamed_sketch_state"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_streamed_sketch_state_equals_oneshot_sketch(spark, sf_dir):
    """The stream-merged HLL/CMS state must equal the one-shot sketches
    built directly from the raw table IN-ENGINE too (the oracle proves
    it against DuckDB; this pins the two engine surfaces to each other),
    and the streamed target must really hold two batch dirs."""
    from bigdata2016w_spark.plans.sketches import (
        _streamed_sketch_dir,
        events_streamed_sketch_state,
    )
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.batches import batch_dirs
    from bigdata2016w_spark.operators.sketches import (
        cms_counters,
        hll_distinct,
    )
    from pyspark.sql import functions as F

    got = events_streamed_sketch_state(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select("user_id")
    one = hll_distinct(ev, "user_id").collect()[0]
    assert (got["m_filled"], got["isum"], got["est_distinct"],
            got["exact_distinct"]) == tuple(one)
    cms = cms_counters(ev, "user_id").agg(
        F.count("*"), F.sum("cnt"), F.max("cnt")).collect()[0]
    assert (got["cms_nnz"], got["cms_total"], got["cms_max"]) == tuple(cms)
    assert len(batch_dirs(spark, _streamed_sketch_dir(spark, sf_dir))) == 2
