"""Physical-plan regression tests: the scale properties the engine is
designed around must be visible in the executed plan, not just intended.
A refactor that silently un-pushes a filter or de-broadcasts a dim fails
here long before it shows up in a 100 TB bill."""

import io
import contextlib

import pytest


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_reaches_parquet_scan(spark, sf_dir):
    from bigdata2016w_spark.plans.relational import q1

    plan = _formatted_plan(q1(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed range start
    assert "LessThan(l_shipdate" in plan            # pushed range end
    # column pruning: the scan must read only the filter column
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_shipdate" in read and "l_extendedprice" not in read


def test_q7_broadcasts_dim_and_takes_ordered(spark, sf_dir):
    from bigdata2016w_spark.plans.relational import q7

    plan = _formatted_plan(q7(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # both fact-side scans carry their pushed range predicates
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_q3_prunes_part_columns(spark, sf_dir):
    from bigdata2016w_spark.plans.relational import q3

    plan = _formatted_plan(q3(spark, sf_dir))
    # part has 6 columns; only the 2 used may be read
    part_read = [
        seg.splitlines()[0]
        for seg in plan.split("ReadSchema:")[1:]
        if "p_partkey" in seg.splitlines()[0]
    ]
    assert part_read and all("p_retailprice" not in r for r in part_read)


def test_wordcount_partial_aggregation(spark, sf_dir):
    """The MR combiner/in-mapper-combining equivalent: hash aggregate must
    run in partial+final mode (two HashAggregate nodes)."""
    from bigdata2016w_spark.plans.text_analytics import word_count

    plan = _formatted_plan(word_count(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_semi_join_stays_semi(spark, sf_dir):
    from bigdata2016w_spark.plans.joins_setops import customers_semi

    plan = _formatted_plan(customers_semi(spark, sf_dir))
    assert "LeftSemi" in plan


def test_roc_auc_window_sees_only_grouped_scores(spark):
    """AUC's rank window must consume the distinct-score aggregate, never
    the raw score rows — a window over raw rows is a single-partition
    funnel at scale. In the plan tree the Window's subtree (printed below
    it) must therefore contain the partial+final groupBy(score) pair."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.evaluation import roc_auc

    df = spark.range(1000).select(
        (F.col("id") % 7).cast("double").alias("spamminess"),
        (F.col("id") % 2).cast("double").alias("label"),
    )
    plan = _formatted_plan(roc_auc(df))
    assert "Window" in plan
    below_window = plan.split("Window", 1)[1].split("\n\n")[0]
    assert below_window.count("HashAggregate") >= 2


def test_bm25_topk_is_take_ordered_no_window(spark, sf_dir):
    """BM25's top-k must plan as TakeOrderedAndProject (bounded per-
    partition heaps), never a global single-partition window; corpus size
    N must be an in-plan broadcast 1-row aggregate, not a separate
    driver-side count job."""
    from bigdata2016w_spark.plans.retrieval import retrieval_bm25

    plan = _formatted_plan(retrieval_bm25(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_bm25_aggregates_only_query_term_tokens(spark, sf_dir):
    """BM25 needs tf only for the query terms, and counts each inside the
    per-doc token array (``size`` minus ``size`` after ``array_remove``):
    no token of the corpus becomes a row, so the optimized plan holds no
    Generate at all, and no aggregate is keyed by term. The corpus
    statistics read the per-doc aggregate's exchange instead of scanning
    documents again."""
    import re

    from bigdata2016w_spark.plans.retrieval import retrieval_bm25

    qe = retrieval_bm25(spark, sf_dir)._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "Generate" not in plan
    keys = re.findall(r"Aggregate \[([^\]]*)\]", plan)
    assert any(re.fullmatch(r"docid#\d+L?", k) for k in keys), keys
    assert not any("term" in k for k in keys), keys
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        physical = (retrieval_bm25(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert physical.count("FileScan") == 1, physical
    assert "ReusedExchange" in physical, physical


def test_knn_topk_is_two_stage(spark, sf_dir):
    """Per-query top-k must be local-then-global: the global per-group
    window may only rank stage-1 survivors (≤ k·P rows per query), never
    the full candidate set — two Window nodes in the plan, with a filter
    between them."""
    from bigdata2016w_spark.plans.pipeline import ann_bruteforce

    plan = _formatted_plan(ann_bruteforce(spark, sf_dir))
    assert plan.count("Window") >= 2


def test_asof_join_is_joinless_single_carry_window(spark, sf_dir):
    """The as-of composition must stay union+window — no join operator,
    no cartesian product (the naive formulation explodes at scale)."""
    from bigdata2016w_spark.plans.temporal import asof_purchase_view

    plan = _formatted_plan(asof_purchase_view(spark, sf_dir))
    assert "Join" not in plan and "Cartesian" not in plan
    assert "Window" in plan


def test_shingle_explode_has_no_inferred_generate_filter(spark, sf_dir):
    """InferFiltersFromGenerate would clone the whole tokenize+shingle
    expression into a Filter below the Generate (~3x the per-row cost of
    the heaviest expression in the engine). The rule is excluded — no
    Filter in the explode plan may mention the generator's array_distinct."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.dedup import shingle_sets
    from bigdata2016w_spark.sources.catalog import load_table

    df = shingle_sets(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for line in optimized.splitlines():
        if line.strip().startswith(("Filter", "+- Filter")):
            assert "array_distinct" not in line


def test_weighted_sample_takes_ordered(spark, sf_dir):
    """The weighted sample must plan bounded per-partition heaps, never a
    global sort of the corpus."""
    from bigdata2016w_spark.plans.lm_quality import documents_weighted_sample

    plan = _formatted_plan(documents_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_tfidf_window_is_per_doc(spark, sf_dir):
    """The only window in TF-IDF ranking must be partitioned by doc_id —
    a global (unpartitioned) window would funnel the corpus through one
    task."""
    from bigdata2016w_spark.plans.lm_quality import doc_tfidf_terms

    plan = _formatted_plan(doc_tfidf_terms(spark, sf_dir))
    assert "windowspecdefinition(doc_id" in plan
    # rank<=k over a window is pushed down to partial+final per-group
    # bounded heaps (WindowGroupLimit), the per-group TakeOrdered twin
    assert "WindowGroupLimit" in plan


def test_funnel_has_no_window_or_cartesian(spark, sf_dir):
    from bigdata2016w_spark.plans.events import events_funnel

    plan = _formatted_plan(events_funnel(spark, sf_dir))
    assert "Window" not in plan
    assert "Cartesian" not in plan


def test_simhash_signatures_single_exchange(spark, sf_dir):
    """The 64-bit vote aggregation must reuse the explicit repartition's
    hash partitioning: exactly ONE Exchange in the signature plan (the
    doc_id repartition), with the explode → groupBy(doc_id) vote fold
    running shuffle-free on top of it. A second exchange here means the
    token-level rows (corpus × tokens) hit the wire. (BENCH r1→r2 flagged
    a simhash delta; same-session A/B showed repart vs no-repart within
    noise — 2.70 vs 2.59 s at sf0.1 — so the shape below is intended and
    the bench delta was warm-up/suite-order attribution.)"""
    from bigdata2016w_spark.operators.dedup import simhash_signatures
    from bigdata2016w_spark.sources.catalog import load_table

    plan = _formatted_plan(
        simhash_signatures(load_table(spark, sf_dir, "documents"))
    )
    tree = plan.split("\n\n")[0]  # node details repeat names below the tree
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2  # partial + final vote fold


def test_lm_score_partial_aggregation(spark, sf_dir):
    """Per-doc surprisal sums must partial-aggregate (map-side combine)."""
    from bigdata2016w_spark.plans.lm_quality import doc_lm_score

    plan = _formatted_plan(doc_lm_score(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "Cartesian" not in plan


def test_q17_decorrelated_single_fact_key(spark, sf_dir):
    """The decorrelated scalar subquery must stay a plain equi-join on
    the part key with partial+final aggregation — no cartesian product,
    no nested-loop join, scan reads only the 3 needed columns."""
    from bigdata2016w_spark.plans.analytics import q17_small_quantity_revenue

    plan = _formatted_plan(q17_small_quantity_revenue(spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("HashAggregate") >= 2
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_shipdate" not in read and "l_discount" not in read


def test_fuzzy_pairs_blocked_not_cartesian(spark, sf_dir):
    """The Levenshtein pairwise must run under the nation equi-join block,
    never as a cartesian/broadcast-nested-loop over all suppliers."""
    from bigdata2016w_spark.plans.analytics import supplier_fuzzy_name_pairs

    plan = _formatted_plan(supplier_fuzzy_name_pairs(spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_ivf_flat_assignment_is_mapside(spark, sf_dir):
    """Cell assignment must be a pure projection over literal centroids —
    exactly ONE Window in the whole plan (query-side probe ranking over
    broadcast rows), none over the corpus; probe join broadcast; no
    cartesian product."""
    from bigdata2016w_spark.plans.pipeline import ann_ivf_flat

    import re

    plan = _formatted_plan(ann_ivf_flat(spark, sf_dir))
    # window nodes: probe ranking + the two top-k stages = 3; a 4th would
    # mean assignment regressed to a corpus-side row_number
    assert len(re.findall(r"\(\d+\) Window$", plan, re.MULTILINE)) == 3
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_single_stage_broadcast(spark, sf_dir):
    """The disjunctive predicate must not force a shuffle: broadcast part
    join + partial/final aggregate, zero hash-partition exchanges."""
    from bigdata2016w_spark.plans.relational import q19_disjunctive_revenue

    plan = _formatted_plan(q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_dir):
    """NOT IN must compile to a broadcast left-anti join, never a
    shuffled subquery."""
    from bigdata2016w_spark.plans.relational import q16_supplier_count

    plan = _formatted_plan(q16_supplier_count(spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in plan.replace("BuildRight, ", "") \
        or ("LeftAnti" in plan and "BroadcastHashJoin" in plan)


def test_q22_scalar_avg_is_broadcast_not_collect(spark, sf_dir):
    """The scalar AVG subquery joins as a broadcast 1-row aggregate
    (nested-loop broadcast), not a driver-side collect."""
    from bigdata2016w_spark.plans.relational import q22_sales_opportunity

    plan = _formatted_plan(q22_sales_opportunity(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_anomalies_single_shuffle_window(spark, sf_dir):
    """Rolling anomaly scan: exactly one exchange (the user_id window);
    everything else stays narrow."""
    from bigdata2016w_spark.plans.corpus_ext import events_user_value_anomalies

    import re

    plan = _formatted_plan(events_user_value_anomalies(spark, sf_dir))
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1
    assert "Window" in plan


def test_covariance_stats_single_aggregation(spark, sf_dir):
    """The PCA stats must be one partial+final hash aggregate over the
    exploded upper triangle — no join, no window, one exchange."""
    import re

    from bigdata2016w_spark.plans.corpus_ext import embedding_covariance_stats

    plan = _formatted_plan(embedding_covariance_stats(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan
    # one hash exchange (the aggregate) + optionally one range (orderBy)
    assert len(re.findall(r"Exchange \(\d+\)", plan)) <= 2


def test_pack_sequences_single_lane_shuffle(spark, sf_dir):
    """Sequence packing must shuffle once, keyed on the (source, shard)
    lane — no global-order window anywhere."""
    import re

    from bigdata2016w_spark.plans.corpus_ext import documents_pack_sequences

    plan = _formatted_plan(documents_pack_sequences(spark, sf_dir))
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1
    assert "source" in plan and "shard" in plan


def test_rag_chunker_is_shuffle_free(spark, sf_dir):
    """The chunker must stay a narrow map plan — zero exchanges."""
    import re

    from bigdata2016w_spark.plans.corpus_ext import documents_chunk_for_rag

    plan = _formatted_plan(documents_chunk_for_rag(spark, sf_dir))
    assert not re.findall(r"Exchange \(\d+\)", plan)


def test_q8_q9_all_dims_broadcast(spark, sf_dir):
    """The star joins must broadcast every dim (no SortMergeJoin at the
    bench scale) and push the part filters into the scans."""
    from bigdata2016w_spark.plans.relational import (
        q8_market_share,
        q9_product_profit,
    )

    p8 = _formatted_plan(q8_market_share(spark, sf_dir))
    # every DIM joins broadcast; the one fact-fact join (lineitem x
    # filtered orders on o_orderkey) may shuffle — that is the honest
    # 100 TB plan (orders is not broadcast-able at scale; AQE promotes
    # it to broadcast at bench scale when it measures small)
    import re

    def nodes(plan, name):  # detail headers: "(41) SortMergeJoin"
        return len(re.findall(rf"\(\d+\) {name}\b", plan))

    assert nodes(p8, "BroadcastHashJoin") >= 4
    assert nodes(p8, "SortMergeJoin") <= 1
    assert "EqualTo(p_type,ECONOMY)" in p8          # pushed dim filter
    assert "GreaterThanOrEqual(o_orderdate" in p8   # pushed date range
    p9 = _formatted_plan(q9_product_profit(spark, sf_dir))
    assert nodes(p9, "BroadcastHashJoin") >= 2
    assert nodes(p9, "SortMergeJoin") <= 1
    assert "StringContains(p_name,red)" in p9       # pushed LIKE


def test_pii_scrub_is_exchange_free(spark, sf_dir):
    """PII scrub is a pure map projection: no Exchange anywhere — at
    100 TB it must stream through the scan without a single shuffle."""
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(all_specs()["documents_pii_scrub"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    # and only the needed columns are read
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "lang" not in read


def test_token_budget_mix_corpus_never_shuffles(spark, sf_dir):
    """The mixing draw must be map-side on the corpus: the only exchanges
    allowed are the tiny per-source supply aggregate (hash + the 20-row
    window singleton); the corpus reaches the rate join via broadcast."""
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(
        all_specs()["documents_token_budget_mix"].fn(spark, sf_dir)
    )
    import re

    assert "BroadcastHashJoin" in plan
    # corpus-side shuffling would exceed the supply aggregate's two tiny
    # exchanges (hash by source + the 20-row window singleton)
    assert len(re.findall(r"- Exchange \(\d+\)", plan)) <= 2
    assert "CartesianProduct" not in plan


def test_nation_hourly_dims_broadcast_single_agg_shuffle(spark, sf_dir):
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(all_specs()["events_nation_hourly"].fn(spark, sf_dir))
    import re

    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # exactly one shuffle: the (window, nation) aggregate
    assert len(re.findall(r"- Exchange \(\d+\)", plan)) == 1


def test_incremental_dedup_no_cartesian(spark, sf_dir):
    """Cross-corpus dedup must never degrade to a cartesian product, and
    the exact-dup check must stay a (left) semi join."""
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(
        all_specs()["documents_incremental_dedup"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_scrub_dup_spans_no_cartesian_no_udf(spark, sf_dir):
    """Span removal must stay a chain of exploded equi-joins and hash
    aggregates: no cartesian/broadcast-nested-loop candidate generation,
    no Python in the hot path, and the span-gram frequency agg runs in
    partial+final mode."""
    from bigdata2016w_spark.plans.curation import documents_scrub_dup_spans

    plan = _formatted_plan(documents_scrub_dup_spans(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2
    # the non-owner filter anti-joins positions, never inner-joins text
    assert "LeftAnti" in plan


def test_bpe_apply_fold_stays_jvm_side(spark, sf_dir):
    """The closed-form merge application is pure JVM expression work:
    one aggregation pair over the vocab, zero Python evaluation nodes."""
    from bigdata2016w_spark.plans.corpus_ext import bpe_apply_closed_form

    plan = _formatted_plan(bpe_apply_closed_form(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan  # top-100 never global-sorts


def test_pq_adc_no_window_over_corpus_no_cartesian(spark, sf_dir):
    """PQ search must stay map-side until the final agg/top-k: encode and
    LUT joins are broadcast (the codebook is a literal model table —
    never a SortMergeJoin of the corpus), the ADC sum is a partial+final
    hash agg, the only Windows are the two top-k stages, and there is no
    cartesian product anywhere."""
    import re

    from bigdata2016w_spark.plans.pipeline import ann_pq_adc

    plan = _formatted_plan(ann_pq_adc(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window$", plan, re.MULTILINE)) == 2
    assert plan.count("HashAggregate") >= 2


def test_semdedup_assignment_computed_once_no_cartesian(spark, sf_dir):
    """SemDeDup's cell assignment (the HOF-heavy centroid argmax) must be
    checkpointed and scanned by BOTH pair-join sides — zero
    BroadcastNestedLoopJoin nodes left in the final plan means it is not
    being recomputed per side. No corpus-side window (the witness argmax
    is a struct-max aggregate in partial+final mode), no cartesian."""
    import re

    from bigdata2016w_spark.plans.pipeline import semantic_dedup

    plan = _formatted_plan(semantic_dedup(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert plan.count("Scan ExistingRDD") >= 2  # checkpoint, both sides
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window$", plan, re.MULTILINE)) == 0
    assert (plan.count("HashAggregate") + plan.count("SortAggregate")) >= 2


def test_transition_matrix_single_corpus_pass(spark, sf_dir):
    """Exactly two Windows — the per-user lead() (partitions bounded by
    per-user event count) and the normalizer over the already-aggregated
    |event_type|²-row table — and NO join: a normalizer joined back onto
    the pair agg would re-execute the corpus subplan (the doubled-plan
    bug this pins against). Pair counts still agg partial+final."""
    import re

    from bigdata2016w_spark.plans.events import events_transition_matrix

    plan = _formatted_plan(events_transition_matrix(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window$", plan, re.MULTILINE)) == 2
    assert "Join" not in plan
    # partial+final pair agg = 2 nodes (each named twice in formatted
    # explain: tree line + detail block)
    assert plan.count("HashAggregate") >= 2


def test_user_ema_fold_stays_jvm_side(spark, sf_dir):
    """The EMA fold must be codegen'd JVM expressions (aggregate/
    transform over collected structs) — no python UDF nodes — and the
    collect_list agg must still run partial+final."""
    from bigdata2016w_spark.plans.events import events_user_value_ema

    plan = _formatted_plan(events_user_value_ema(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan


def test_winnow_fingerprints_shuffle_free_expression_chain(spark, sf_dir):
    """Winnowing is pure per-row expression work: k-gram hashing and the
    per-window min must compile to one codegen chain with NO exchange
    beyond the deliberate input repartition, no window operator, no
    Python worker."""
    from bigdata2016w_spark.registry import all_specs

    import re

    plan = _formatted_plan(
        all_specs()["doc_winnow_fingerprints"].fn(spark, sf_dir)
    )
    # exactly the explicit input repartition
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1
    assert "Window" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_cms_counters_broadcast_to_probes(spark, sf_dir):
    """The d*w-row Count-Min counter matrix must reach the per-key probe
    join as a broadcast — shuffling distinct keys against a 1024-row
    table would be the classic small-dim mistake."""
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(
        all_specs()["events_cms_heavy_users"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan  # scalar mean is BNLJ broadcast


def test_kmv_compiles_to_take_ordered(spark, sf_dir):
    """The KMV sketch's merge IS the physical plan: ORDER BY h LIMIT k
    must compile to TakeOrderedAndProject (per-partition top-k + k-row
    merge), never a global Sort."""
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(
        all_specs()["shingles_kmv_distinct"].fn(spark, sf_dir)
    )
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_int8_quant_broadcasts_scale_table(spark, sf_dir):
    """The 64-row per-dimension scale table joins back to the exploded
    column broadcast; both aggregations keep map-side partials."""
    from bigdata2016w_spark.registry import all_specs

    plan = _formatted_plan(
        all_specs()["embedding_int8_quant"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()


def test_quantile_sketch_sample_takes_ordered(spark, sf_dir):
    """The quantile sketch's k-minimum-hash sample must plan as bounded
    per-partition heaps + a k-row merge (TakeOrderedAndProject) — the
    KMV physical story — never a global sort of the table."""
    from bigdata2016w_spark.operators.sketches import hash_sample_rows
    from bigdata2016w_spark.sources.catalog import load_table

    plan = _formatted_plan(
        hash_sample_rows(load_table(spark, sf_dir, "orders"),
                         "o_orderkey", "o_totalprice")
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_ivfpq_streamed_probe_prunes_both_scan_sides(spark, sf_dir, tmp_path):
    """include_streamed=True must keep BOTH code scans — the base cell
    partitions and the streamed batch dirs — dynamically pruned to the
    probed cells: the claim that the streamed tail never widens the base
    scan holds only if the cell filter reaches each parquet scan
    separately (a join above the Union would prune neither)."""
    import os
    import shutil

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import ivfpq_append_sink

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    write_ivfpq_index(emb.where(emb.vec_id % 2 == 0), idx)
    tail = emb.where(emb.vec_id % 2 == 1)
    w = tmp_path / "w"
    tail.select("vec_id", "embedding").coalesce(1).write.parquet(str(w))
    sdir = tmp_path / "in"
    sdir.mkdir()
    shutil.copy(next(w.rglob("part-*.parquet")), sdir / "0.parquet")
    src = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    ivfpq_append_sink(src, idx, str(tmp_path / "ckpt")).awaitTermination()

    queries = emb.where(emb.vec_id.isin([0, 1, 2])).select(
        "vec_id", "embedding"
    )
    plan = _formatted_plan(
        knn_from_index(spark, idx, queries, include_streamed=True)
    )
    pruned_scans = [
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg
        and (f"{os.sep}codes" in seg)
        and "dynamicpruningexpression(cell" in seg
    ]
    locations = " ".join(pruned_scans)
    assert "idx/codes]" in locations            # base partitions pruned
    assert "idx/codes_stream" in locations      # streamed batch pruned


def test_lpa_round_argmax_is_agg_pairs_never_window(spark):
    """One LPA round must plan as the claimed shape (_lpa_round's doc):
    a partial+final HashAggregate pair for the (id, label) counts and a
    partial+final SortAggregate pair for the struct-max argmax (partial
    BEFORE its exchange = map-side combinable) — NEVER a window over
    the per-node neighbor groups (a hub node's full neighbor list would
    sort-buffer inside one task and every row would cross the exchange
    uncombined). The per-round state the loop checkpoints is this
    frame."""
    import re

    from bigdata2016w_spark.operators.traversal import _lpa_round

    und = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src bigint, dst bigint"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id bigint, label bigint"
    )
    plan = _formatted_plan(_lpa_round(und, labels))
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2
    assert len(re.findall(r"\(\d+\) SortAggregate", plan)) == 2
    # the argmax's PARTIAL half must sit below its exchange: in the
    # formatted section printout partial_max carries the lower node id
    sections = {
        int(m.group(1)): sec
        for sec in plan.split("\n\n")
        if (m := re.match(r"\((\d+)\) SortAggregate", sec))
    }
    partial = [n for n, s in sections.items() if "partial_max" in s]
    final = [n for n, s in sections.items()
             if "Functions [1]: [max(" in s]
    assert len(partial) == 1 and len(final) == 1
    assert partial[0] < final[0]


def test_constraint_audit_single_scan_plus_anti_join(spark, sf_dir):
    """The rule suite must fold into ONE orders aggregate (adding a
    rule never adds a scan) plus exactly one LEFT ANTI join for the
    referential check — never a scan per rule."""
    from bigdata2016w_spark.plans.maintenance import orders_constraint_audit

    plan = _formatted_plan(orders_constraint_audit(spark, sf_dir))
    # tree nodes only (details repeat the header): orders(agg) +
    # orders(fk probe) + customer — and not one more per rule
    assert plan.count("Scan parquet  (") == 3
    assert "LeftAnti" in plan


def test_ivm_broadcasts_delta_side_dim(spark, sf_dir):
    """The ΔV branch must broadcast the dimension to the (small) delta
    batch — the property that makes maintenance cheaper than rebuild."""
    from bigdata2016w_spark.plans.maintenance import orders_ivm_nation_revenue

    plan = _formatted_plan(orders_ivm_nation_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the delta filter is pushed into the fact scan, not applied post-read
    assert "o_orderkey" in plan.split("PushedFilters:")[1].splitlines()[0] \
        or plan.count("PushedFilters: [IsNotNull") >= 1


def test_cooccurrence_takes_ordered_after_pair_agg(spark, sf_dir):
    """r13 shape: one lineitem scan folds into per-order baskets
    (collect_set IS the per-basket distinct), pairs expand in-plan from
    the sorted basket array — no self-join, no semi-join prune, two
    exchanges total (basket agg + pair agg)."""
    from bigdata2016w_spark.plans.analytics import parts_cooccurrence_topk

    plan = _formatted_plan(parts_cooccurrence_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan          # basket expansion replaced the join
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2     # tree + detail of ONE scan
    assert "collect_set" in plan


def test_hll_rollup_two_level_merge_is_partial_aggs(spark, sf_dir):
    """Registers build once from raw data; the hour→day fold and the
    estimate are hash aggs over register rows — no window, no Python."""
    from bigdata2016w_spark.plans.sketches import events_hll_daily_rollup

    plan = _formatted_plan(events_hll_daily_rollup(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_ols_trend_is_one_aggregate_no_window(spark, sf_dir):
    from bigdata2016w_spark.plans.events import events_hourly_trend_ols

    plan = _formatted_plan(events_hourly_trend_ols(spark, sf_dir))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    # the global-min hour is a broadcast 1-row agg, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_halfsample_ci_single_scan(spark, sf_dir):
    """The sentinel full-table replicate must ride the same expand +
    partial-agg shuffle as the 32 half-samples, separated only in the
    final CASE aggregate: exactly one orders scan, no join."""
    from bigdata2016w_spark.plans.analytics import orders_halfsample_ci

    plan = _formatted_plan(orders_halfsample_ci(spark, sf_dir))
    assert plan.count("Scan parquet  (") == 1
    assert "Join" not in plan
