"""Edge-case robustness: empty tables, unicode text, null-ish JSON."""

import pytest


@pytest.fixture(scope="module")
def empty_sf(spark, sf_dir, tmp_path_factory):
    """A scale-factor dir where every table has the right schema, 0 rows."""
    from bigdata2016w_spark.sources.catalog import TABLES, load_table

    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.limit(0).write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", [
    "q1_count_shipped", "q6_lineitem_agg", "q7_top_revenue", "word_count",
    "pmi_pairs", "index_stats", "retrieval_and", "dedup_exact",
    "dedup_jaccard", "doc_stats", "events_sessions", "ann_bruteforce",
    "retrieval_bm25", "doc_train_test_split",
    "q17_small_quantity_revenue", "supplier_fuzzy_name_pairs",
    "graph_sssp_hops", "ann_ivf_flat", "dedup_minhash_lsh",
    "dedup_simhash", "q4_priority_late_exists", "q21_waiting_supplier",
    "embedding_hard_negatives", "auc_rank_check",
    "q10_returned_revenue", "q12_priority_shipping", "q14_promo_revenue",
    "q16_supplier_count", "q19_disjunctive_revenue", "q22_sales_opportunity",
    "documents_reservoir_by_source", "events_user_value_anomalies",
    "doc_bigram_surprisal", "documents_pack_sequences",
    "media_audio_features", "embedding_covariance_stats",
    "hybrid_search_rrf", "bpe_merge_table", "skipgram_training_pairs",
    "q11_important_stock", "q15_top_supplier", "q20_surplus_suppliers",
    "orders_incremental_daily_agg", "q13_customer_distribution",
    "q18_large_volume_customers", "events_trending_keys",
    "documents_chunk_for_rag", "events_hourly_unique_users",
    "q8_market_share", "q9_product_profit", "ann_ivf_lloyd",
    "documents_token_budget_mix", "documents_pii_scrub",
    "events_nation_hourly", "sgd_score_closed_form",
    "sgd_ensemble_closed_form", "documents_incremental_dedup",
    "documents_containment_dupes", "bpe_apply_closed_form",
    "documents_scrub_dup_spans", "dedup_keep_best",
    "documents_rejection_audit", "ann_pq_adc", "semantic_dedup",
    "events_transition_matrix", "events_user_value_ema", "ann_ivf_pq",
    "doc_winnow_fingerprints", "winnow_dup_candidates",
    "shingles_kmv_distinct", "shingles_hll_distinct",
    "shingles_kmv_lang_overlap", "events_cms_heavy_users",
    "orders_bloom_probe", "ann_recall_eval", "knn_label_vote",
    "embedding_int8_quant", "ann_dim_truncation_recall", "graph_kcore",
    "ann_ivf_pq_residual", "graph_lpa_communities",
    "orders_price_quantile_sketch", "ann_ivf_pq_rerank",
    "orders_constraint_audit", "orders_ivm_nation_revenue",
    "events_compaction_plan", "events_hll_daily_rollup",
    "retrieval_proximity", "events_hourly_trend_ols",
    "orders_halfsample_ci", "graph_sssp_weighted",
    "orders_replica_reconcile", "parts_cooccurrence_topk",
    "customers_purge_audit", "events_key_skew_report",
    "orders_winsorized_mean", "ann_ivf_probe_sweep",
    "events_salted_enrich", "events_funnel_ttc", "orders_priority_drift",
    "orders_scd2_pit", "lineitem_bucketed_revenue",
    "orders_ivm_streamed", "documents_winnow_admission",
    "events_streamed_sketch_state", "documents_jaccard_admission",
    "embeddings_semdedup_admission", "ann_ivf_filtered",
    "ann_ivfpq_filtered_serve", "orders_ivm_retractions",
    "orders_ivm_cdc_streamed", "orders_ivm_join_delta",
    "documents_dsir_selection", "orders_schema_evolution_read",
    "documents_leakage_safe_split",
])
def test_queries_survive_empty_tables(name, spark, empty_sf):
    from bigdata2016w_spark.registry import all_specs

    rows = all_specs()[name].fn(spark, empty_sf).collect()
    if name == "q1_count_shipped":
        assert rows[0][0] == 0
    elif name in ("shingles_kmv_distinct", "shingles_hll_distinct"):
        # global sketch summaries: one row, zero estimate (never NULL)
        assert len(rows) == 1 and rows[0].est_distinct == 0.0
    elif name == "shingles_kmv_lang_overlap":
        assert len(rows) == 1 and rows[0].est_union == 0.0
    elif name == "orders_bloom_probe":
        assert len(rows) == 1 and rows[0].n_probe_keys == 0
    elif name == "orders_price_quantile_sketch":
        # one row per requested quantile, NULL estimate, zero counts
        assert len(rows) == 5
        assert all(r.est is None and r.k_used == 0 for r in rows)
    elif name == "q17_small_quantity_revenue":
        # global aggregate: one row, null sum / zero count
        assert len(rows) == 1 and rows[0].n_lineitems == 0
    elif name == "auc_rank_check":
        # global aggregate: one all-null row (no scores to rank)
        assert len(rows) == 1 and rows[0].auc is None
    elif name in ("q14_promo_revenue", "q19_disjunctive_revenue"):
        # global aggregates: one row of null sums / zero counts
        assert len(rows) == 1 and rows[0][0] is None
    elif name == "orders_constraint_audit":
        # the ingest gate PASSES an empty batch: 7 rules, 0 violations
        assert len(rows) == 7
        assert all(r.n_rows == 0 and r.n_violations == 0 and r.passed
                   for r in rows)
    elif name == "customers_purge_audit":
        assert len(rows) == 3
        assert all(r.rows_before == 0 and r.rows_purged == 0
                   and r.orphans_after == 0 for r in rows)
    elif name == "events_key_skew_report":
        assert len(rows) == 1
        assert rows[0].n_keys == 0 and rows[0].max_share_bp is None
    elif name == "orders_halfsample_ci":
        assert len(rows) == 1
        r = rows[0]
        assert r.n_rows == 0 and r.n_replicates == 0
        assert r.boot_p05 is None and r.boot_p95 is None
    elif name == "orders_winsorized_mean":
        assert len(rows) == 1
        assert rows[0].n_rows == 0 and rows[0].winsorized_mean is None
    elif name == "events_funnel_ttc":
        assert len(rows) == 1
        assert rows[0].n_converted == 0 and rows[0].p50_ttc_sec is None
    elif name == "events_streamed_sketch_state":
        # global sketch state: one row, empty registers/counters
        assert len(rows) == 1
        r = rows[0]
        assert r.m_filled == 0 and r.est_distinct == 0.0
        assert r.exact_distinct == 0 and r.cms_nnz == 0
        assert r.cms_total == 0 and r.cms_max is None
    else:
        assert rows == []


def test_tokenizer_unicode(spark):
    import pyspark.sql.functions as F

    from bigdata2016w_spark.functions.tokenizer import tokenize

    df = spark.createDataFrame(
        [("héllo wörld 北京 naïve café ABC",)], ["text"]
    )
    out = df.select(tokenize(F.col("text")).alias("t")).collect()[0][0]
    # reference parity: non-[a-z] stripped from token EDGES (so the
    # trailing é of 'café' goes), interior kept, all-non-latin dropped
    assert out == ["héllo", "wörld", "naïve", "caf", "abc"]


def test_json_agg_handles_malformed_props(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("a", '{"k": 1}'), ("a", "not json"), ("a", None), ("b", '{"x": 2}')],
        ["event_type", "props"],
    )
    k = F.get_json_object("props", "$.k").cast("int")
    out = {r["event_type"]: (r["n"], r["s"]) for r in
           df.groupBy("event_type")
             .agg(F.count("*").alias("n"), F.sum(k).alias("s")).collect()}
    assert out["a"] == (3, 1)   # malformed/missing -> null, ignored by sum
    assert out["b"] == (1, None)


def test_round4_ops_dirty_inputs_parity(spark, tmp_path):
    """Dirty-data pins for the round-4 operators: NULL text flows through
    PII scrub as NULL counts/text on both engines (kept only via the
    doc_id%97 sample branch); a NULL source is dropped by the mixing join
    identically; NULL ts / unmatched user_id rows are excluded from the
    nation rollup identically."""
    import duckdb

    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    d = tmp_path / "dirty4"
    d.mkdir()
    docs = spark.createDataFrame(
        [(0, None, "en", "srcA", 0),           # NULL text, %97 sample row
         (1, "mail me a@b.io now", "en", "srcA", 19),
         (2, "plain words only", "en", None, 16),   # NULL source
         (3, "", "en", "srcB", 0),             # empty text
         (97, "ip 1.2.3.4 here", "en", "srcB", 15)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(d / "documents.parquet"))
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 0, "view", 1.5, "{}"),
         (2, None, 0, "view", 2.5, "{}"),       # NULL ts
         (3, "2024-01-01 00:30:00", 99, "view", 4.0, "{}"),  # no customer
         (4, "2024-01-01 01:10:00", None, "view", 8.0, "{}")],  # NULL user
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp_ntz) as ts", "user_id",
                 "event_type", "value", "props")
    ev.write.parquet(str(d / "events.parquet"))
    spark.createDataFrame(
        [(0, "c0", 0, 1.0)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double",
    ).write.parquet(str(d / "customer.parquet"))
    spark.createDataFrame(
        [(0, "NATION_0", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(str(d / "nation.parquet"))

    con = duckdb.connect()
    for t in ("documents", "events", "customer", "nation"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'"
        )
    for name in ("documents_pii_scrub", "documents_token_budget_mix",
                 "events_nation_hourly", "events_tumbling_hour",
                 "events_sliding", "events_sessions",
                 "documents_scrub_dup_spans", "dedup_keep_best",
                 "documents_rejection_audit",
                 "events_transition_matrix", "events_user_value_ema"):
        spec = all_specs()[name]
        compare_spark_duckdb(spec.fn(spark, str(d)), con, spec.oracle)

    # and the semantics are the intended ones, not vacuous matches
    pii = {r.doc_id: r for r in
           all_specs()["documents_pii_scrub"].fn(spark, str(d)).collect()}
    assert pii[0].clean_text is None and pii[0].n_email is None
    assert pii[1].n_email == 1 and pii[97].n_ipv4 == 1
    mix_sources = {r.source for r in all_specs()[
        "documents_token_budget_mix"].fn(spark, str(d)).collect()}
    assert None not in mix_sources
    nh = all_specs()["events_nation_hourly"].fn(spark, str(d)).collect()
    assert sum(r.n_events for r in nh) == 1  # only event 1 survives
    audit = {r.doc_id: r.status for r in all_specs()[
        "documents_rejection_audit"].fn(spark, str(d)).collect()}
    # NULL text and empty text both classify as 'empty', never 'kept' —
    # keeps the audit's kept set equal to corpus_curation's survivors
    # (which filters size > 0) even on dirty corpora
    assert audit[0] == "empty" and audit[3] == "empty"


def test_embedding_ops_null_embedding_parity(spark, tmp_path):
    """Dirty-corpus pin for the embedding-blocked queries: rows with a
    NULL embedding — including one inside the seed-centroid id range —
    must be excluded identically by Spark and the oracle. Without the
    operator-side filter a NULL vector PQ-encodes to the lowest codeword
    of every subspace (array_min prefers the NULL-distance struct) and
    surfaces as a fake nearest neighbor."""
    import random

    import duckdb

    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    d = tmp_path / "dirty_emb"
    d.mkdir()
    rng = random.Random(3)
    rows = []
    for i in range(40):
        emb = (None if i in (3, 27) else
               [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        # rows 7/21: NULL label — knn_label_vote must exclude them from
        # the vote in BOTH engines (Spark ASC sorts NULLs first, DuckDB
        # last, so a NULL label reaching the tie-break would diverge)
        rows.append((i, emb, None if i in (7, 21) else i % 5))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{d}/embeddings.parquet/*.parquet'")
    for name in ("ann_pq_adc", "ann_ivf_pq", "ann_ivf_pq_residual",
                 "semantic_dedup"):
        spec = all_specs()[name]
        out = spec.fn(spark, str(d))
        compare_spark_duckdb(out, con, spec.oracle)
        id_cols = (["dropped_id", "witness_id"] if name == "semantic_dedup"
                   else ["vec_id"])
        for r in out.select(*id_cols).collect():
            assert not set(r).intersection({3, 27}), name
    # the cosine-DESC family is NULL-safe without operator filters (both
    # engines sort NULL cosines last on DESC; vec_id tie-break keeps the
    # filler rows deterministic) — pinned so a future oracle rewrite that
    # flips a sort direction gets caught; the IVF family filters NULLs
    # (a NULL seed centroid crashed the literal-matrix collect pre-r6)
    for name in ("ann_bruteforce", "ann_lsh", "ann_ivf_flat",
                 "ann_ivf_lloyd", "ann_recall_eval", "knn_label_vote",
                 "embedding_near_dupes", "embedding_hard_negatives",
                 "embedding_label_centroids", "embedding_nearest_centroid",
                 "embedding_int8_quant"):
        spec = all_specs()[name]
        compare_spark_duckdb(spec.fn(spark, str(d)), con, spec.oracle)


def test_sketch_ops_dirty_inputs_parity(spark, tmp_path):
    """Dirty-corpus parity for the sketch/fingerprint tier: NULL text,
    empty text, a doc with k-grams but no complete winnow window, NULL
    user_id in the CMS stream — all excluded identically by Spark and
    the oracle, with the long docs still producing real fingerprints."""
    import duckdb

    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    d = tmp_path / "dirty_sketch"
    d.mkdir()
    # alphabetic tokens: the tokenizer strips digits at token edges, so
    # tok0..tok29 would all normalize to "tok" and collapse every gram
    def w(i):
        return f"w{chr(97 + i // 26)}{chr(97 + i % 26)}"

    long_a = " ".join(w(i) for i in range(30))
    long_b = " ".join(w(i) for i in range(5, 30)) + " zeta yeta xeta"
    docs = spark.createDataFrame(
        [(0, None, "en", "srcA", 0),          # NULL text
         (1, "", "en", "srcA", 0),            # empty text
         (2, "five tokens but no window", "en", "srcB", 25),  # grams, no win
         (3, long_a, "en", "srcB", len(long_a)),
         (4, long_b, "de", "srcB", len(long_b)),
         (5, long_a, "de", "srcC", len(long_a))],  # exact dup of 3
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(d / "documents.parquet"))
    ev = spark.createDataFrame(
        [(i, "2024-01-01 00:01:00", (None if i % 7 == 0 else i % 3),
          "view", 1.0, "{}") for i in range(60)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp_ntz) as ts", "user_id",
                 "event_type", "value", "props")
    ev.write.parquet(str(d / "events.parquet"))

    con = duckdb.connect()
    for t in ("documents", "events"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'"
        )
    for name in ("doc_winnow_fingerprints", "winnow_dup_candidates",
                 "shingles_kmv_distinct", "shingles_hll_distinct",
                 "shingles_kmv_lang_overlap", "events_cms_heavy_users"):
        spec = all_specs()[name]
        compare_spark_duckdb(spec.fn(spark, str(d)), con, spec.oracle)

    fps = all_specs()["doc_winnow_fingerprints"].fn(spark, str(d)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert set(by_doc) == {3, 4, 5}          # 0/1/2 structurally excluded
    assert by_doc[3] == by_doc[5]            # identical docs, same fps
    assert by_doc[3] & by_doc[4]             # shared 25-token span
    pairs = {(r.doc_a, r.doc_b)
             for r in all_specs()["winnow_dup_candidates"]
             .fn(spark, str(d)).collect()}
    assert (3, 5) in pairs and (3, 4) in pairs


# ---- r13: kernel-contract guards (ADVICE items on np_kernels) ----------
# Arrow converts a NULL list element to NaN before any pandas kernel can
# see it, so NULL-element vectors MUST be rejected at validation time for
# the kernels' NULL/NaN parity claims to hold (np_kernels module doc).


def test_validated_embeddings_raises_on_null_element(spark):
    from pyspark.errors import PySparkException

    from bigdata2016w_spark.operators.similarity import validated_embeddings

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)]),
         (2, [1.0, None] + [0.0] * 62)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(PySparkException, match="NULL elements"):
        validated_embeddings(df)  # eager localCheckpoint evaluates guard


def test_validated_embeddings_still_drops_null_rows(spark):
    from bigdata2016w_spark.operators.similarity import validated_embeddings

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    assert validated_embeddings(df).count() == 1


def test_pair_cosine_kernel_zero_length_raises_divide_by_zero():
    import pandas as pd
    from bigdata2016w_spark.operators.np_kernels import pair_cosine_fn

    fn = pair_cosine_fn("a", "b", ["id"])
    pdf = pd.DataFrame({"id": [1], "a": [[]], "b": [[]]})
    with pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
        list(fn(iter([pdf])))


def test_encode_kernel_overflow_raises_instead_of_wrapping():
    import pandas as pd
    from bigdata2016w_spark.operators.np_kernels import encode_pq_fn

    # |x - cw|^2 * 2^24 > 2^63 --> the ANSI bigint cast must raise, not
    # wrap to a negative distance
    fn = encode_pq_fn([(0, 0, [0.0, 0.0])], n_subspaces=1, dim=2)
    pdf = pd.DataFrame({"vec_id": [7], "embedding": [[1e12, 0.0]]})
    with pytest.raises(ArithmeticError, match="CAST_OVERFLOW"):
        list(fn(iter([pdf])))


def test_encode_kernel_sum_overflow_raises_instead_of_wrapping():
    import pandas as pd
    from bigdata2016w_spark.operators.np_kernels import encode_pq_fn

    # each term is 2^62 (passes the per-term cast bound) but their int64
    # sum wraps negative and would win the argmin; the ANSI bigint sum in
    # the expression twin raises ARITHMETIC_OVERFLOW instead
    x = float(2 ** 19)  # x^2 * 2^24 = 2^62
    fn = encode_pq_fn([(0, 0, [0.0, 0.0]), (0, 1, [x, 0.0])],
                      n_subspaces=1, dim=2)
    pdf = pd.DataFrame({"vec_id": [7], "embedding": [[x, x]]})
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        list(fn(iter([pdf])))
