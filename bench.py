"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "suite_wall", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is executed to completion (collect) so the number is end-to-end
wall clock including scan, shuffle, and result fetch — comparable to the
reference's published job wall-clocks (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bigdata2016w_spark import get_spark  # noqa: E402
from bigdata2016w_spark.registry import all_specs  # noqa: E402


# ISOLATED-BLOCK POLICY (converged on across r9-r10, codified r11): any
# query whose SUITE-mode time exceeds ~1.5 s at sf0.1 joins this block AT
# REGISTRATION TIME, so when the driver or tripwire flags it the isolated
# best-of-3 number is already in the committed artifact and interference
# is adjudicable the same round instead of a round later (corpus_curation
# in r9 and corpus_curation_semdedup in r10 each cost a round of
# ambiguity). tests/test_bench_tripwire.py lints the rule against the
# committed BENCH_LOCAL.json. Entries are never removed just for getting
# faster — history stays attributable.
ISOLATED_QUERIES = (
    "q6_lineitem_agg", "q7_top_revenue", "dedup_simhash",
    "ann_ivf_lloyd", "pagerank_top10", "ann_ivf_flat",
    "graph_sssp_hops", "shared_shingle_pairs_pipeline",
    "ann_pq_adc", "ann_ivf_pq", "ann_recall_eval",
    "semantic_dedup",
    # the r6 driver run showed containment at 5.53 s where the same code
    # measured 1.58 s here — these three give the dedup tier's outliers
    # an isolated reference so environment noise is attributable
    "documents_containment_dupes", "winnow_dup_candidates",
    "documents_incremental_dedup",
    # the r7 residual tier (Lloyd coarse fit + 2-step residual codebook)
    "ann_ivf_pq_residual",
    # r8: winnow_cross flagged at 2.19x with zero code change; rerank was
    # the other slowest-5 line without an isolated ref
    "ann_ivf_pq_rerank", "winnow_cross_candidates",
    # r9: corpus_curation shares the shingle cache with the semdedup
    # tier — isolated numbers separate interference from regression
    "corpus_curation", "corpus_curation_semdedup",
    # r10: the streamed-index probe builds a temp index on first run
    # (cached per session) — isolated shows steady-state probe cost
    "ann_ivfpq_streamed_probe",
    # the two slowest r10-new queries: probe sweep pays a brute-force
    # ground-truth pass, basket mining a per-order self-join
    "ann_ivf_probe_sweep", "parts_cooccurrence_topk",
    # r11: both streamed certifications build their corpus/view on first
    # run (cached per session) — isolated shows the steady-state read
    "orders_ivm_streamed", "documents_winnow_admission",
    # r11: backfill found by the new policy lint — every remaining
    # committed >1.5 s suite line gets an isolated twin
    "bpe_merge_table", "shingles_kmv_lang_overlap",
    "documents_scrub_dup_spans", "embedding_near_dupes", "ann_ivf",
    "dedup_keep_best",
    # r11 sf0.1 refresh: four more lines crossed 1.5 s on the new host
    # generation (sentinel queries show ~1.1-1.4x host inflation)
    "graph_kcore", "hybrid_search_rrf", "dedup_clusters_star",
    "skipgram_training_pairs",
    # r11 final artifact: the host shift pushed six more ~1.2-1.5 s
    # lines over the policy threshold — the 1.5 s line now sits inside
    # this host generation's noise band, so the block absorbs the band
    "graph_sssp_weighted", "q21_waiting_supplier", "q9_product_profit",
    "doc_bigram_surprisal", "q18_large_volume_customers",
    "q8_market_share",
    # r12: the driver-refreshed r11 artifact crossed 1.5 s on five more
    # lines under contention, and the two multimodal queries plus two
    # others were regression-flagged with no twin to adjudicate — every
    # one gets its isolated reference now (the r11 verdict's task #3)
    "events_hll_daily_rollup", "pmi_stripes", "token_heavy_hitters",
    "sgd_ensemble", "sgd_ensemble_closed_form", "media_frame_sample",
    "media_image_features", "customers_purge_audit",
    "lineitem_zorder_skipping",
    # r12-new: streamed embedding-admission builds its corpus on first
    # run (cached per session) — isolated shows the steady-state read
    "embeddings_semdedup_admission",
    # r12: filtered vector search (in-memory tier crossed 1.5 s at
    # registration — the ann_ivf_flat plan plus the predicate join);
    # the serve tier builds its sidecar index on first run (cached per
    # session); doc_lm_score tripped the tripwire on the r12 host with
    # zero code change — twin it to adjudicate host drift vs regression
    "ann_ivf_filtered", "ann_ivfpq_filtered_serve", "doc_lm_score",
    # r12: a contended mid-suite episode pushed these two over the
    # policy line (isolated twins adjudicated every other flag in the
    # same run) — twin them so the next episode is attributable
    "orders_scd2", "sgd_scores",
    # r12: hovers at the 1.5 s line run-to-run (1.37-1.55 s); its
    # stripes sibling is already twinned
    "pmi_pairs",
    # r12-new: retraction-delta IVM, batch and streamed-CDC form (the
    # streamed corpus is built on first run, cached per session)
    "orders_ivm_retractions", "orders_ivm_cdc_streamed",
    # r12: hovers near the 1.5 s line under suite load
    "graph_lpa_communities", "retrieval_bm25",
    # r12-new: DSIR tokenizes the corpus once per model estimate —
    # ~2.1 s warm at sf0.1; the join-IVM sibling is sub-second but
    # rides the same artifact refresh
    "documents_dsir_selection", "orders_ivm_join_delta",
    # r12-new: first-in-registry consumer of the shared Jaccard pair
    # cache, so it pays the build in-suite; the twin shows serve cost
    "documents_leakage_safe_split",
    # r12: flagged in-suite (~1s abs) after the window reorder changed
    # its neighbors; the twin adjudicates plan vs contention
    "orders_ivm_nation_revenue",
    # r12 optimization round: the host-generation drift visible in the
    # final artifact (uniform ~1.3x on untouched no-join queries) pushed
    # these two over the policy line — twins make the next drift episode
    # attributable
    "doc_repetition_stats", "doc_tfidf_terms",
    # r12: the slowest of the three end-of-round exclusive runs (the
    # ±20% host-window swing documented in OPTIMIZATION_r12.md) pushed
    # these two over the line — the policy absorbs the band
    "lineitem_unpivot", "sgd_auc",
    # r12: four more ~1 s quiet-host lines that cross 1.5 s only inside
    # the slow host windows — the band the twins exist to adjudicate
    "q11_important_stock", "orders_replica_reconcile",
    "orders_scd2_pit", "q17_small_quantity_revenue",
)


def roll_baseline(
    prev: dict, timings: dict[str, float], rebaseline: str = ""
) -> dict[str, float]:
    """The PINNED per-query baseline the tripwire diffs against. Unlike
    the rolling ``queries`` map (which re-baselines every run, so a slow
    regression landing in two ≤1.5x steps is never flagged), this
    carries the previous artifact's baseline forward unchanged; only
    queries with no baseline yet (new this run) are seeded at their
    current time. ``rebaseline`` (the $SPARK_GRAFT_REBASELINE env var)
    deliberately resets: 'all' re-seeds everything, a comma-list
    re-seeds those names. Queries dropped from the suite fall out."""
    base = dict(prev.get("baseline_queries")
                or prev.get("queries") or {})
    names = ({n.strip() for n in rebaseline.split(",") if n.strip()}
             if rebaseline and rebaseline != "all" else None)
    return {
        name: round(float(t), 3)
        if (name not in base or rebaseline == "all"
            or (names and name in names))
        else base[name]
        for name, t in timings.items()
    }


def flag_regressions(
    prev_q: dict, timings: dict[str, float], cap: int = 8
) -> dict[str, list[float]]:
    """The regression-tripwire predicate, factored out for unit tests:
    a query is flagged when it is BOTH >1.5x its committed time AND
    >0.5 s absolutely slower (and the new time clears the 0.3 s codegen
    floor). Committed 0.0 entries (round(best,3) of a trivial query) are
    excluded: no meaningful ratio exists for them. Returns the ``cap``
    worst by ratio, as {name: [committed, new]}. ``prev_q`` should be
    the PINNED ``baseline_queries`` map (see :func:`roll_baseline`), so
    a 1.4x·1.4x two-run creep still trips on the second run."""
    flagged = [
        (name, prev_q[name], t)
        for name, t in timings.items()
        if isinstance(prev_q.get(name), (int, float))
        and prev_q[name] > 0
        and t > 0.3
        and t > 1.5 * prev_q[name]
        and t > prev_q[name] + 0.5
    ]
    flagged.sort(key=lambda r: -(r[2] / r[1]))
    return {n: [old, new] for n, old, new in flagged[:cap]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    spark = get_spark(app_name="bigdata2016w-bench")
    spark.sparkContext.setLogLevel("WARN")

    # warm the JVM/codegen once so the first timed query isn't charged
    # session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    specs = all_specs()
    timings: dict[str, float] = {}

    # The shared shingle/Jaccard-pairs pipeline (plans/pipeline.py) is
    # memoized per (session, sf_dir) and consumed by several registered
    # queries — whichever consumer runs first would otherwise be charged
    # its full cost and the rest ~0. Materialize it up front as an
    # explicit bench line so the PPJoin path can't hide in consumer
    # timings; consumers below then show their marginal cost. Same
    # best-of-2 protocol as the queries (the shared entries are forgotten
    # between runs so both fully re-materialize; run 1 pays one-time
    # codegen); the second materialization stays shared for the consumers.
    from bigdata2016w_spark.plans import pipeline as _pipe

    from bigdata2016w_spark.operators.dedup import jaccard_near_dupes
    from bigdata2016w_spark.sources.catalog import load_table

    # run 1: un-memoized with Observations attached so the artifact
    # records the PPJoin cost breakdown (shingle rows → post-filter
    # candidates → verified pairs) — candidate/doc growth across rounds
    # is the skew signal a profiler would otherwise hide. run 2: through
    # the memoized path, leaving the cache warm for the consumers below.
    _pipe.forget_jaccard_pairs(spark, sf_dir)
    m: dict = {}
    t0 = time.perf_counter()
    jaccard_near_dupes(load_table(spark, sf_dir, "documents"), metrics=m).count()
    best = time.perf_counter() - t0
    ppjoin_metrics = {k: int(v.get["n"]) for k, v in m.items()}
    _pipe.forget_jaccard_pairs(spark, sf_dir)
    t0 = time.perf_counter()
    _pipe._shared_jaccard_pairs(spark, sf_dir).count()
    best = min(best, time.perf_counter() - t0)
    timings["shared_shingle_pairs_pipeline"] = round(best, 3)

    jvm_gc = spark.sparkContext._jvm.System.gc

    for i, (name, spec) in enumerate(specs.items()):
        # best of 2: the first execution of a plan shape pays one-time
        # whole-stage-codegen (Janino) compilation that a long-lived
        # cluster amortizes away; steady-state is the honest number.
        # collect() fully materializes (every query returns a small
        # grouped/top-k result).
        if i % 16 == 0:
            # periodic full GC: a 116-query single-JVM suite accumulates
            # old-gen + codegen-cache pressure that inflated late-suite
            # timings ~2-3x in round 3 (q6: 2.86 s in-suite vs 0.75 s
            # isolated); an occasional explicit collection keeps suite
            # numbers near isolated ones without a session per block
            jvm_gc()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _ = spec.fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)

    # Isolated re-measurement of the suite's slowest spot-check queries
    # (best-of-3 after a full GC): the regression-tracking reference
    # numbers, free of suite-context noise. Suite vs isolated drift
    # > ~1.3x on these means the suite protocol is inflating again.
    isolated: dict[str, float] = {}
    for name in ISOLATED_QUERIES:
        jvm_gc()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            if name == "shared_shingle_pairs_pipeline":
                # memoized — clear so the isolated number is a true
                # full re-materialization, like the suite line above
                _pipe.forget_jaccard_pairs(spark, sf_dir)
                _pipe._shared_jaccard_pairs(spark, sf_dir).count()
            else:
                _ = specs[name].fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        isolated[name] = round(best, 3)

    # ANN fit-vs-serve split: the suite's ann_* lines re-fit Lloyd/PQ
    # per run (the registered queries are self-contained), but production
    # serves from the PERSISTED index — so the artifact carries both:
    # ann_ivfpq_index_build (the one-time fit+write) and two *_serve
    # lines (best-of-3 probe against the already-built index, the number
    # a steady-state deployment sees). A separate section, not the
    # timings map: these aren't registered queries, and suite_wall stays
    # comparable round-over-round.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.plans.pipeline import (
        _IVF_PROBE,
        KNN_K,
        KNN_QUERY_IDS,
        RERANK_FACTOR,
        _shared_valid_embeddings,
    )
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    ann_serve: dict[str, float] = {}
    idx_root = tempfile.mkdtemp(prefix="bench_ivfpq_idx_")
    try:
        emb = _shared_valid_embeddings(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id").isin(*KNN_QUERY_IDS))
        jvm_gc()
        t0 = time.perf_counter()
        write_ivfpq_index(emb, f"{idx_root}/idx")
        ann_serve["ann_ivfpq_index_build"] = round(
            time.perf_counter() - t0, 3)
        for name, fn in (
            ("ann_ivfpq_from_index_serve", lambda: knn_from_index(
                spark, f"{idx_root}/idx", queries_df, KNN_K,
                n_probe=_IVF_PROBE)),
            ("ann_ivfpq_rerank_from_index_serve",
             lambda: knn_from_index(
                 spark, f"{idx_root}/idx", queries_df, KNN_K,
                 n_probe=_IVF_PROBE, rerank=RERANK_FACTOR,
                 embeddings=emb)),
        ):
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn().collect()
                best = min(best, time.perf_counter() - t0)
            ann_serve[name] = round(best, 3)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)

    # Regression tripwire: diff this run's per-query map against the
    # COMMITTED artifact (read before we overwrite it) and surface any
    # query >1.5x its committed time straight into the machine line —
    # suite-noise episodes (r5's +12%, r6's 5.53 s containment outlier)
    # become visible in the driver artifact itself instead of only to
    # someone diffing git history. Jitter guard: beyond the 1.5x ratio,
    # the absolute delta must exceed 0.5 s — a committed ~0.2 s query
    # jittering to 0.35 s is codegen/interleave noise, not a regression
    # (the r8 false flags: four sub-1.5 s deltas on a zero-diff round) —
    # while a real 0.2 s → 2 s regression still trips. Capped at the 8
    # worst.
    regressions: dict[str, list[float]] = {}
    baseline = dict(timings)
    prev_path = Path(__file__).with_name("BENCH_LOCAL.json")
    try:
        prev = json.loads(prev_path.read_text())
        if prev.get("sf") == sf:
            baseline = roll_baseline(
                prev, timings, os.environ.get("SPARK_GRAFT_REBASELINE", "")
            )
            regressions = flag_regressions(baseline, timings)
    except (FileNotFoundError, json.JSONDecodeError, TypeError):
        pass

    payload = {
        "metric": "suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "baseline_queries": baseline,
        "isolated": isolated,
        "ann_serve": ann_serve,
        "regressions": regressions,
        "ppjoin": ppjoin_metrics,
        "sf": sf,
    }
    # The full per-query artifact lives in committed BENCH_LOCAL.json —
    # per-query history survives regardless of stdout capture limits.
    Path(__file__).with_name("BENCH_LOCAL.json").write_text(
        json.dumps(payload, indent=1) + "\n"
    )
    # The driver tail-captures stdout and parses the LAST line; a
    # one-line dump of every query overflowed that capture three
    # rounds running (BENCH_r03..r05: "parsed": null), and the r11
    # compact line STILL outgrew the capture once the isolated block
    # passed ~60 entries (BENCH_r11: head cut off, prev_bench_ok
    # false in r12's PERF diff). Print the full payload first for
    # humans, then a COMPACT machine line last: suite_wall + the
    # slowest 16 suite timings + the serve split + the tripwire flags
    # + the PPJoin cost counters (~1 KB). The isolated re-runs live in
    # the full payload and the committed BENCH_LOCAL.json only.
    print(json.dumps(payload))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:16])
    compact = {
        "metric": "suite_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "queries_full": "BENCH_LOCAL.json",
        "isolated_full": "BENCH_LOCAL.json",
        "ann_serve": ann_serve,
        "regressions": regressions,
        "ppjoin": ppjoin_metrics,
        "sf": sf,
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
