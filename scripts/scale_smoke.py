"""Scale smoke: run the LSH dedup tiers and ANN blocking on synthetic
corpora 20-40x the sf0.1 bench tables, printing wall clock and the
candidate-volume counters that decide 100 TB viability.

Synthesizes (deterministically, seeded) a uniform-vocabulary corpus with
a planted 2% near-dup rate — unrelated docs share essentially no 3-gram
shingles, planted dups share ~96% — plus a near-isotropic embedding
table. Not part of the pytest gate (runtime);
run manually:

    python scripts/scale_smoke.py [n_docs] [n_vecs]
    python scripts/scale_smoke.py decade [base_n]   # 10x candidates/doc pin

The interesting outputs are the RATIOS: candidate pairs per document and
scan fraction must stay ~constant as N grows (linear total work), which
is what the banded equi-join / adaptive-plane designs promise.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pyspark.sql.functions as F

from bigdata2016w_spark import get_spark
from bigdata2016w_spark.operators.dedup import (
    jaccard_near_dupes,
    minhash_lsh_near_dupes,
    shingle_sets,
    simhash_near_dupes,
)
from bigdata2016w_spark.operators.similarity import (
    LSH_SEED,
    _planes,
    adaptive_num_planes,
    lsh_bucket,
)

VOCAB = 5000
DOC_LEN = 80
DUP_RATE = 0.02


def synth_docs(spark, n: int):
    """n docs of DOC_LEN words over a VOCAB-word Zipf-ish vocabulary;
    ~DUP_RATE of docs are a prior doc with one word changed."""
    # alphabetic vocabulary — the tokenizer (reference semantics) strips
    # digits, so words must be letters-only
    words_v = ["".join("abcdefghij"[int(c)] for c in str(t)) + "x"
               for t in range(VOCAB)]
    rng = np.random.RandomState(7)
    draws = rng.randint(0, VOCAB, size=(n, DOC_LEN))
    texts = [" ".join(words_v[t] for t in row) for row in draws]
    dup_idx = rng.choice(n, size=int(n * DUP_RATE), replace=False)
    for i in dup_idx:
        if i == 0:
            continue
        src = rng.randint(0, i)
        words = texts[src].split()
        words[rng.randint(0, len(words))] = words_v[rng.randint(0, VOCAB)]
        texts[i] = " ".join(words)
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(32, "doc_id").localCheckpoint(eager=True)


def synth_docs_distributed(spark, n: int):
    """JVM-side twin of :func:`synth_docs` for the 10x decade tier: same
    corpus shape (DOC_LEN words over the same VOCAB digit-word alphabet,
    ~DUP_RATE planted near-dups = an earlier doc with one word swapped),
    synthesized entirely as Spark expressions so a million docs never
    pass through the driver. word(t) is the exact python words_v
    construction as one translate() call.

    The corpus is round-tripped through a temp PARQUET dir rather than
    localCheckpoint'ed: a checkpointed frame inherits the logical stats
    of its ORIGIN plan, and this one originates from spark.range(n) —
    ~8 bytes/row to the planner no matter how many text bytes the
    projection builds — so AQE happily broadcast the GB-scale prefix
    index at 1M docs (driver maxResultSize abort). Parquet-backed input
    is also what production corpora look like, so the smoke exercises
    the operators under honest planner statistics."""
    from bigdata2016w_spark.shared import scratch_dir

    def word(t):
        return F.concat(
            F.translate(t.cast("string"), "0123456789", "abcdefghij"),
            F.lit("x"),
        )

    base = spark.range(n).select(F.col("id").alias("doc_id"))
    is_dup = (F.col("doc_id") % int(1 / DUP_RATE) == 3) & (F.col("doc_id") >= 128)
    src = F.when(
        is_dup, F.col("doc_id") - 1 - F.pmod(F.xxhash64("doc_id"), F.lit(97))
    ).otherwise(F.col("doc_id"))
    swap_pos = F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(DOC_LEN))
    docs = base.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(DOC_LEN - 1)),
                lambda k: F.when(
                    is_dup & (k == swap_pos),
                    word(F.pmod(F.xxhash64(F.col("doc_id"), k, F.lit(999)),
                                F.lit(VOCAB))),
                ).otherwise(
                    word(F.pmod(F.xxhash64(src * DOC_LEN + k), F.lit(VOCAB)))
                ),
            ),
            " ",
        ).alias("text"),
    )
    # under Spark's per-application root: spark.stop() in decade()'s
    # finally deletes the multi-GB 1M-doc tier with it
    out = f"{scratch_dir('bigdata2016w_decade_')}/docs"
    docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).write.parquet(out)
    return spark.read.parquet(out)


def decade(base_n: int = 100_000) -> None:
    """The 10x data point for the linear-in-matches blocking claims:
    PPJoin, winnow, and MinHash-LSH candidates/doc measured at base_n
    and 10·base_n on the distributed synthetic corpus. Flat (≤ ~1.1x)
    candidates/doc across the decade is the pass criterion — drift above
    it means the stop-fingerprint cap / rarest-first prefix ordering /
    band width needs re-examination before trusting 100 TB."""
    spark = get_spark(app_name="scale-smoke-decade")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    try:
        _decade_measure(spark, base_n)
    finally:
        spark.stop()


def _decade_measure(spark, base_n: int) -> None:
    from bigdata2016w_spark.operators.sketches import (
        winnow_dup_candidates,
        winnow_fingerprints,
    )

    stats: dict[int, dict[str, float]] = {}
    for n in (base_n, base_n * 10):
        t_all = time.perf_counter()
        docs = synth_docs_distributed(spark, n)
        sh = shingle_sets(docs).localCheckpoint(eager=True)
        row: dict[str, float] = {}

        t0 = time.perf_counter()
        jm: dict = {}
        n_pp = jaccard_near_dupes(docs, 0.5, shingled=sh, metrics=jm).count()
        row["ppjoin_cand_per_doc"] = jm["candidates"].get["n"] / n
        row["ppjoin_pairs_per_doc"] = n_pp / n
        row["ppjoin_wall"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        row["winnow_fps_per_doc"] = winnow_fingerprints(docs).count() / n
        row["winnow_pairs_per_doc"] = winnow_dup_candidates(docs).count() / n
        row["winnow_wall"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        lm: dict = {}
        n_lsh = minhash_lsh_near_dupes(
            docs, 0.5, shingled=sh, portable=False, metrics=lm
        ).count()
        row["lsh_cand_per_doc"] = lm["candidates"].get["n"] / n
        row["lsh_pairs_per_doc"] = n_lsh / n
        row["lsh_wall"] = time.perf_counter() - t0

        # DSIR: the claim is linear-in-corpus with a CONSTANT B-bucket
        # model (no vocabulary blowup), so the decade pin is wall-per-doc
        # flatness — the per-doc cost of the two model scans + score join
        # must not grow with N. ~40% of docs tagged target.
        from bigdata2016w_spark.plans.lm_quality import (
            dsir_importance_select,
        )

        t0 = time.perf_counter()
        d_docs = docs.withColumn(
            "lang",
            F.when(F.col("doc_id") % 5 < 2, "en").otherwise("xx"),
        )
        n_sel = dsir_importance_select(d_docs, k=25).count()
        wall = time.perf_counter() - t0
        assert n_sel == 25
        row["dsir_wall_ms_per_kdoc"] = wall * 1_000_000 / n / 1000
        row["dsir_wall"] = wall

        stats[n] = row
        # docs is a plain parquet-read frame (no persisted blocks to
        # free); its temp dir is removed in the finally below
        sh.unpersist()
        print(f"@ {n} docs ({time.perf_counter() - t_all:.0f}s total): "
              + ", ".join(
                  f"{k}={v:.4f}" if not k.endswith("wall")
                  else f"{k}={v:.0f}s" for k, v in row.items()))

    lo, hi = stats[base_n], stats[base_n * 10]
    for k in ("ppjoin_cand_per_doc", "winnow_pairs_per_doc",
              "lsh_cand_per_doc"):
        r = hi[k] / max(lo[k], 1e-9)
        verdict = "FLAT" if r <= 1.1 else "DRIFTING"
        print(f"decade ratio {k}: {lo[k]:.4f} @ {base_n} -> "
              f"{hi[k]:.4f} @ {base_n * 10} ({r:.2f}x — {verdict})")
    # wall-per-doc pin (looser gate: fixed-overhead amortization makes
    # the decade point FASTER per doc; >1.5x would mean super-linear)
    k = "dsir_wall_ms_per_kdoc"
    r = hi[k] / max(lo[k], 1e-9)
    verdict = "LINEAR" if r <= 1.5 else "SUPER-LINEAR"
    print(f"decade ratio {k}: {lo[k]:.2f} @ {base_n} -> "
          f"{hi[k]:.2f} @ {base_n * 10} ({r:.2f}x — {verdict})")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "decade":
        decade(int(sys.argv[2]) if len(sys.argv) > 2 else 100_000)
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    docs = synth_docs(spark, n_docs)
    print(f"corpus: {docs.count()} docs x {DOC_LEN} words")

    t0 = time.perf_counter()
    sh = shingle_sets(docs).localCheckpoint(eager=True)
    print(f"shingle_sets: {time.perf_counter() - t0:.1f}s "
          f"({sh.count()} docs shingled)")

    t0 = time.perf_counter()
    jm: dict = {}
    ja = jaccard_near_dupes(docs, 0.5, shingled=sh, metrics=jm)
    n_exact = ja.count()
    n_cand = jm["candidates"].get["n"]
    print(f"jaccard PPJoin (exact tier): {time.perf_counter() - t0:.1f}s, "
          f"{n_exact} pairs ({n_exact / n_docs:.4f}/doc), "
          f"{n_cand} candidates ({n_cand / n_docs:.3f}/doc)")

    # linearity pin: half the corpus must cost ~half the candidates —
    # candidates/doc stable across sizes is the 100-TB viability signal
    half = synth_docs(spark, n_docs // 2)
    jm2: dict = {}
    jaccard_near_dupes(half, 0.5, metrics=jm2).count()
    n_cand_h = jm2["candidates"].get["n"]
    r_full, r_half = n_cand / n_docs, n_cand_h / (n_docs // 2)
    print(f"PPJoin candidates/doc: {r_half:.3f} @ {n_docs // 2} -> "
          f"{r_full:.3f} @ {n_docs} (ratio {r_full / max(r_half, 1e-9):.2f}x"
          f" — ~1.0 is linear, 2.0 would be quadratic)")

    # cross-corpus incremental dedup: probe 1/4 of the corpus against the
    # other 3/4 — work must track cross candidates, not corpus². Same
    # doubling protocol as symmetric PPJoin: candidates/doc must stay
    # ~flat from half-corpus to full-corpus.
    from bigdata2016w_spark.operators.dedup import (
        containment_near_dupes,
        jaccard_cross_near_dupes,
    )

    t0 = time.perf_counter()
    xm: dict = {}
    n_cross = jaccard_cross_near_dupes(
        docs.where(F.col("doc_id") % 4 != 0),
        docs.where(F.col("doc_id") % 4 == 0),
        metrics=xm,
    ).count()
    xc_full = xm["candidates"].get["n"]
    print(f"cross incremental dedup (1/4 probe vs 3/4 index): "
          f"{time.perf_counter() - t0:.1f}s, {n_cross} cross pairs, "
          f"{xc_full} candidates ({xc_full / n_docs:.3f}/doc)")
    xm2: dict = {}
    jaccard_cross_near_dupes(
        half.where(F.col("doc_id") % 4 != 0),
        half.where(F.col("doc_id") % 4 == 0),
        metrics=xm2,
    ).count()
    xc_half = xm2["candidates"].get["n"]
    rx_f, rx_h = xc_full / n_docs, xc_half / (n_docs // 2)
    print(f"cross candidates/doc: {rx_h:.3f} @ {n_docs // 2} -> "
          f"{rx_f:.3f} @ {n_docs} (ratio {rx_f / max(rx_h, 1e-9):.2f}x)")

    # containment tier (contained-side prefix pruning): same doubling pin
    t0 = time.perf_counter()
    cm: dict = {}
    n_cont = containment_near_dupes(docs, 0.9, shingled=sh,
                                    metrics=cm).count()
    cc_full = cm["candidates"].get["n"]
    print(f"containment dedup: {time.perf_counter() - t0:.1f}s, "
          f"{n_cont} pairs, {cc_full} candidates "
          f"({cc_full / n_docs:.3f}/doc)")
    cm2: dict = {}
    containment_near_dupes(half, 0.9, metrics=cm2).count()
    cc_half = cm2["candidates"].get["n"]
    rc_f, rc_h = cc_full / n_docs, cc_half / (n_docs // 2)
    print(f"containment candidates/doc: {rc_h:.3f} @ {n_docs // 2} -> "
          f"{rc_f:.3f} @ {n_docs} (ratio {rc_f / max(rc_h, 1e-9):.2f}x)")

    # span-level rewrite: cost must be linear in corpus tokens (no
    # candidate pairs at all — position sets, not doc pairs)
    from bigdata2016w_spark.plans.curation import scrub_dup_spans

    t0 = time.perf_counter()
    scr = scrub_dup_spans(docs)
    n_rem = scr.agg(F.sum("n_removed"), F.sum("n_tokens")).collect()[0]
    print(f"dup-span scrub: {time.perf_counter() - t0:.1f}s, "
          f"{n_rem[0]}/{n_rem[1]} tokens removed "
          f"({n_rem[0] / max(n_rem[1], 1):.4f})")

    # winnowing fingerprints + rare-fp pairing: fps/doc and pair rows/doc
    # must hold across the corpus doubling (the max_df cap is the bound)
    from bigdata2016w_spark.operators.sketches import (
        winnow_dup_candidates,
        winnow_fingerprints,
    )

    t0 = time.perf_counter()
    n_fps = winnow_fingerprints(docs).count()
    n_wpairs = winnow_dup_candidates(docs).count()
    wall_w = time.perf_counter() - t0
    half_docs = docs.where(F.col("doc_id") < n_docs // 2)
    fps_h = winnow_fingerprints(half_docs).count()
    wp_h = winnow_dup_candidates(half_docs).count()
    print(f"winnow fps+pairs: {wall_w:.1f}s, "
          f"fps/doc {fps_h / (n_docs // 2):.3f} @ {n_docs // 2} -> "
          f"{n_fps / n_docs:.3f} @ {n_docs} "
          f"(ratio {(n_fps / n_docs) / max(fps_h / (n_docs // 2), 1e-9):.2f}x), "
          f"pairs/doc {wp_h / (n_docs // 2):.4f} -> {n_wpairs / n_docs:.4f}")

    t0 = time.perf_counter()
    mh = minhash_lsh_near_dupes(docs, 0.5, shingled=sh, portable=False)
    n_pairs = mh.count()
    print(f"minhash_lsh (xxhash scale path): {time.perf_counter() - t0:.1f}s, "
          f"{n_pairs} verified pairs ({n_pairs / n_docs:.4f}/doc)")

    t0 = time.perf_counter()
    sim = simhash_near_dupes(docs, portable=False)
    n_sim = sim.count()
    print(f"simhash: {time.perf_counter() - t0:.1f}s, {n_sim} pairs "
          f"({n_sim / n_docs:.4f}/doc)")

    # ANN blocking occupancy: candidate pairs per vector under adaptive P
    rng = np.random.RandomState(11)
    dim = 16
    vecs = rng.randn(n_vecs, dim).round(3).tolist()
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(32, "vec_id").localCheckpoint(eager=True)
    p = adaptive_num_planes(n_vecs)
    t0 = time.perf_counter()
    occ = (
        emb.select(
            lsh_bucket(F.col("embedding"),
                       _planes(dim, p, seed=LSH_SEED)).alias("b")
        )
        .groupBy("b").count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .collect()[0][0]
    )
    print(f"embedding LSH (P={p}): bucketing {time.perf_counter() - t0:.1f}s, "
          f"{occ:.0f} candidate pairs ({occ / n_vecs:.1f}/vec)")

    # SemDeDup blocking occupancy: holding |cell| ~ constant by scaling
    # n_cells with N, in-cell candidate pairs per vector must stay flat
    # across a corpus doubling (linear total verify work)
    from bigdata2016w_spark.operators.similarity import (
        PQ_SUBSPACES,
        _assign_to_literal_centroids,
        pq_codebook,
        pq_encode,
    )

    def _semdedup_cands(e, n: int) -> float:
        n_cells = max(4, n // 125)
        cl = [(int(r.vec_id), [float(x) for x in r.embedding])
              for r in sorted(
                  e.where(F.col("vec_id") < n_cells)
                  .select("vec_id", "embedding").collect(),
                  key=lambda r: r.vec_id)]
        a = _assign_to_literal_centroids(e, cl)
        return float(
            a.groupBy("cell").count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .collect()[0][0]
        )

    t0 = time.perf_counter()
    full_c = _semdedup_cands(emb, n_vecs)
    half_n = n_vecs // 2
    half_c = _semdedup_cands(
        emb.where(F.col("vec_id") < half_n), half_n
    )
    print(f"semdedup blocking (cells=N/125): {time.perf_counter() - t0:.1f}s, "
          f"candidates/vec {half_c / half_n:.1f} @ {half_n} -> "
          f"{full_c / n_vecs:.1f} @ {n_vecs} "
          f"(ratio {full_c / n_vecs / (half_c / half_n):.2f}x)")

    # PQ: bounded-sample codebook train + full map-side encode
    t0 = time.perf_counter()
    cb = pq_codebook(emb, 16, PQ_SUBSPACES, dim)
    n_codes_rows = pq_encode(emb, cb, PQ_SUBSPACES, dim).count()
    print(f"pq train+encode: {time.perf_counter() - t0:.1f}s, "
          f"{n_codes_rows} code rows ({n_codes_rows // PQ_SUBSPACES} vectors)")

    # Residual IVF-PQ tier: with the models FROZEN (train-once), encode
    # rows must track the corpus exactly (map-side linearity: rows/vec
    # ratio 1.0 across a halving) while the re-rank stage's exact-
    # distance work stays |Q|·k·factor rows — independent of corpus size
    from bigdata2016w_spark.operators.similarity import (
        _checked,
        _fused_assign_encode,
        knn,
        lloyd_centroids,
        residual_pq_codebook,
    )

    n_cells = 16
    t0 = time.perf_counter()
    cents = lloyd_centroids(emb, n_cells, n_iter=1, dim=dim)
    rcb = residual_pq_codebook(emb, n_cells, dim=dim, n_iter=1,
                               centroids=cents)
    wall_train = time.perf_counter() - t0

    def _res_encode_rows(e) -> int:
        return _fused_assign_encode(_checked(e, dim), cents, rcb,
                                    PQ_SUBSPACES, dim, residual=True).count()

    t0 = time.perf_counter()
    res_full = _res_encode_rows(emb)
    wall_enc = time.perf_counter() - t0
    half_emb = emb.where(F.col("vec_id") < n_vecs // 2)
    res_half = _res_encode_rows(half_emb)
    rv_f = res_full / PQ_SUBSPACES / n_vecs
    rv_h = res_half / PQ_SUBSPACES / (n_vecs // 2)
    print(f"residual encode: train {wall_train:.1f}s + encode "
          f"{wall_enc:.1f}s, rows/vec {rv_h:.3f} @ {n_vecs // 2} -> "
          f"{rv_f:.3f} @ {n_vecs} (ratio {rv_f / max(rv_h, 1e-9):.2f}x)")

    # rerank shortlist (= the stage-2 exact-distance row count): the ADC
    # stage returns k·factor rows per query at ANY corpus size, so the
    # refinement cost is a constant, not a corpus function
    qids = list(range(n_cells, n_cells + 5))
    k, factor = 10, 3
    t0 = time.perf_counter()
    sl_full = knn(
        emb, qids, k * factor, coarse="lloyd", code="residual_pq",
        n_cells=n_cells, dim=dim, codebook=rcb, centroids=cents,
    ).count()
    wall_sl = time.perf_counter() - t0
    sl_half = knn(
        half_emb, qids, k * factor, coarse="lloyd", code="residual_pq",
        n_cells=n_cells, dim=dim, codebook=rcb, centroids=cents,
    ).count()
    print(f"rerank shortlist rows: {wall_sl:.1f}s, {sl_half} @ "
          f"{n_vecs // 2} -> {sl_full} @ {n_vecs} (|Q|·k·factor = "
          f"{len(qids) * k * factor}; corpus-size-independent)")

    # --- round-3 operators at scale: rolling anomalies, packing, BPE ---
    import tempfile

    from bigdata2016w_spark.plans.corpus_ext import (
        bpe_merge_table,
        documents_pack_sequences,
        events_user_value_anomalies,
    )

    n_events = n_docs * 20  # 2M at the default 100k docs
    with tempfile.TemporaryDirectory() as tmp:
        ev = spark.range(n_events).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                (F.lit(1_600_000_000_000_000)
                 + F.col("id") * 1_000_000)
            ).cast("timestamp_ntz").alias("ts"),
            F.pmod(F.xxhash64("id"), F.lit(n_events // 100))
            .alias("user_id"),
            F.lit("view").alias("event_type"),
            # heavy-tailed values so some rolling windows flag outliers
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000))
             / F.lit(100.0)
             + F.when(F.pmod(F.xxhash64("id", F.lit(2)), F.lit(997)) == 0,
                      5_000.0).otherwise(0.0)).alias("value"),
            F.concat(F.lit('{"k": '),
                     F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100)),
                     F.lit("}")).alias("props"),
        )
        ev.write.parquet(f"{tmp}/events.parquet")
        t0 = time.perf_counter()
        n_anom = events_user_value_anomalies(spark, tmp).count()
        print(f"rolling anomalies: {time.perf_counter() - t0:.1f}s over "
              f"{n_events} events, {n_anom} flagged "
              f"({n_anom / n_events:.5f}/event; one shuffle)")

        docs.withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 20))
        ).write.parquet(f"{tmp}/documents.parquet")
        t0 = time.perf_counter()
        n_pack = documents_pack_sequences(spark, tmp).count()
        print(f"sequence packing: {time.perf_counter() - t0:.1f}s, "
              f"{n_pack} docs placed across 20x16 lanes")

        t0 = time.perf_counter()
        n_merges = bpe_merge_table(spark, tmp).count()
        print(f"bpe (10 rounds over {VOCAB}-word vocab table): "
              f"{time.perf_counter() - t0:.1f}s, {n_merges} merges")

        from bigdata2016w_spark.plans.corpus_ext import (
            documents_chunk_for_rag,
            embedding_covariance_stats,
            events_trending_keys,
        )

        t0 = time.perf_counter()
        n_chunks = documents_chunk_for_rag(spark, tmp).count()
        print(f"rag chunker: {time.perf_counter() - t0:.1f}s, "
              f"{n_chunks} chunks from {n_docs} docs (shuffle-free)")

        t0 = time.perf_counter()
        n_trend = events_trending_keys(spark, tmp).count()
        print(f"trending keys: {time.perf_counter() - t0:.1f}s, "
              f"{n_trend} (window, key) winners over {n_events} events")

        emb.write.parquet(f"{tmp}/embeddings.parquet")
        t0 = time.perf_counter()
        n_cov = embedding_covariance_stats(spark, tmp).count()
        print(f"pca covariance stats: {time.perf_counter() - t0:.1f}s, "
              f"{n_cov} dimension pairs over {n_vecs} vectors "
              f"(per-batch NumPy Gram)")

    # --- compaction protocols at scale: read-side fan-in bounded by the
    # compactor, results bit-stable across the fold. Two sizes prove the
    # fan-in is a function of BATCH COUNT, not corpus size. ---
    import os
    import shutil
    from pathlib import Path

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_append_sink,
        ivfpq_index_compact,
    )
    from bigdata2016w_spark.streaming.batches import batch_dirs
    from bigdata2016w_spark.streaming.sketch_sink import (
        compact_sketch_batches,
        read_merged_cms,
        read_merged_hll,
        read_merged_quantile_sample,
    )

    def _index_compact_smoke(e, n: int, tmp: str):
        idx = f"{tmp}/idx{n}"
        write_ivfpq_index(e.where(F.col("vec_id") % 2 == 0), idx, n_iter=1)
        src = f"{tmp}/in{n}"
        os.makedirs(src)
        # four single-file micro-batches of the odd half
        for j, m in enumerate((1, 3, 5, 7)):
            w = f"{tmp}/w{n}_{j}"
            e.where(F.col("vec_id") % 8 == m).coalesce(1).write.parquet(w)
            shutil.copy(next(Path(w).glob("part-*.parquet")),
                        f"{src}/{j}.parquet")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        ivfpq_append_sink(stream, idx, f"{tmp}/ck{n}").awaitTermination()
        queries = e.where(F.col("vec_id").isin(list(range(16, 21))))
        pre_fan = len(batch_dirs(spark, f"{idx}/codes_stream"))
        pre = sorted(map(tuple, knn_from_index(
            spark, idx, queries, include_streamed=True).collect()))
        t0 = time.perf_counter()
        folded = ivfpq_index_compact(spark, idx)
        wall = time.perf_counter() - t0
        post_fan = len(batch_dirs(spark, f"{idx}/codes_stream"))
        post = sorted(map(tuple, knn_from_index(
            spark, idx, queries, include_streamed=True).collect()))
        assert pre == post, "index compaction changed probe results"
        assert post_fan == 0 and folded > 0
        return pre_fan, post_fan, folded, wall

    with tempfile.TemporaryDirectory() as tmp:
        for e, n in ((half_emb, n_vecs // 2), (emb, n_vecs)):
            pre_fan, post_fan, folded, wall = _index_compact_smoke(e, n, tmp)
            print(f"index compaction @ {n} vecs: {wall:.1f}s, "
                  f"stream fan-in {pre_fan} dirs -> {post_fan}, "
                  f"{folded} code rows folded, probe results bit-stable")

        def _plant_sketches(target: str, nb: int):
            for b in range(nb):
                spark.createDataFrame(
                    [(j, sl, 3 * b + j + sl) for j in range(2)
                     for sl in range(4)],
                    "j int, slot int, cnt bigint",
                ).write.parquet(f"{target}/batch={b}/cms")
                spark.createDataFrame(
                    [(b % 5, 4 + b), (7, 9)], "bucket int, rho int"
                ).write.parquet(f"{target}/batch={b}/hll")
                spark.createDataFrame(
                    [(1000 * b + i, float(i)) for i in range(32)],
                    "h bigint, x double",
                ).write.parquet(f"{target}/batch={b}/qsk")

        def _merged(target: str):
            return (
                sorted(map(tuple, read_merged_cms(spark, target).collect())),
                sorted(map(tuple, read_merged_hll(spark, target).collect())),
                sorted(map(tuple, read_merged_quantile_sample(
                    spark, target).collect())),
            )

        for nb in (4, 12):
            target = f"{tmp}/sk{nb}"
            _plant_sketches(target, nb)
            pre = _merged(target)
            t0 = time.perf_counter()
            removed = compact_sketch_batches(spark, target)
            wall = time.perf_counter() - t0
            post_fan = len(batch_dirs(spark, target))
            assert _merged(target) == pre, "sketch fold changed estimates"
            assert post_fan == 1 and removed == nb - 1
            print(f"sketch compaction @ {nb} batches: {wall:.1f}s, "
                  f"fan-in {nb} dirs -> {post_fan}, merges bit-stable "
                  f"(cms sum / hll max / qsk k-smallest)")

    # --- z-order layout: the conjunctive-scan fraction is a property of
    # the GRID GEOMETRY, not the row count — it must stay ~flat across a
    # corpus doubling (each fixed-grid chunk just gets denser; its
    # envelope, and hence the skip decision, is unchanged). That is the
    # whole 100-TB claim of the layout: files added by growth are skipped
    # at the same rate as the files they joined. ---
    from bigdata2016w_spark.operators.layout import (
        BITS, CHUNK_BITS, interleave_sql, scaled_sql,
    )

    def _zorder_scan_fraction(n_rows: int) -> float:
        # x spans the whole 0..4095 grid domain at every size (an
        # `id % 4096` draw covers only [0, n) below 4096 rows, which
        # doubles the 10-30% band's row share when n halves)
        df = spark.range(n_rows).selectExpr(
            "pmod(xxhash64(id), 4096) AS x", "pmod(hash(id), 997) AS y"
        )
        sx = scaled_sql("x", "0", "4095", BITS, "DIV")
        sy = scaled_sql("y", "0", "996", BITS, "DIV")
        chunk = f"({interleave_sql(sx, sy, BITS)} >> {2 * BITS - CHUNK_BITS})"
        env = df.selectExpr(f"{chunk} AS chunk", "x", "y").groupBy("chunk").agg(
            F.min("x").alias("xmin"), F.max("x").alias("xmax"),
            F.min("y").alias("ymin"), F.max("y").alias("ymax"),
            F.count("*").alias("n"),
        )
        # the 10%..30% band of each dimension, as in the registered query
        scanned = env.where(
            ~((F.col("xmax") < 409) | (F.col("xmin") > 1228)
              | (F.col("ymax") < 99) | (F.col("ymin") > 299))
        ).agg(F.sum("n")).collect()[0][0] or 0
        return scanned / n_rows

    t0 = time.perf_counter()
    f_half = _zorder_scan_fraction(n_vecs // 2)
    f_full = _zorder_scan_fraction(n_vecs)
    ratio = f_full / max(f_half, 1e-9)
    assert 0.5 < ratio < 1.5, f"z-order scan fraction not scale-stable: {ratio}"
    print(f"z-order conjunctive scan fraction: {f_half:.3f} @ {n_vecs // 2} "
          f"-> {f_full:.3f} @ {n_vecs} rows (ratio {ratio:.2f}x — flat is "
          f"scale-stable skipping; {time.perf_counter() - t0:.1f}s)")

    # replica digest exchange (orders_replica_reconcile's mechanism): the
    # cross-replica traffic is the digest table — one row per partition —
    # so it must stay CONSTANT as the fact table doubles, and a planted
    # 0.1% scattered loss must still be pinpointed to exact partitions
    from bigdata2016w_spark.operators.dedup import portable_hash60

    def _digest_exchange(n_rows: int):
        base = spark.range(n_rows).selectExpr(
            "id", "id % 24 AS part", "CAST(id * 37 % 9973 AS STRING) AS pay"
        )
        canon = F.concat_ws("|", F.col("id").cast("string"), F.col("pay"))

        def dig(side):
            return side.select(
                "part", portable_hash60(canon, "DIG")
                .cast("decimal(38,0)").alias("h")
            ).groupBy("part").agg(
                F.count("*").alias("n"), F.sum("h").alias("d"))

        a, b = dig(base).alias("a"), dig(
            base.where("id % 1000 <> 42")).alias("b")
        diff = (
            a.join(b, F.col("a.part") == F.col("b.part"), "full_outer")
            .where(~F.col("a.d").eqNullSafe(F.col("b.d")))
            .select(F.coalesce("a.part", "b.part"))
        )
        # the planted loss drops ids 42 + 1000k; step 1000 ≡ 16 (mod 24)
        # cycles through parts {18, 10, 2}, all three from 2043 rows on
        lost = {i % 24 for i in range(42, n_rows, 1000)}
        found = {r[0] for r in diff.collect()}
        assert found == lost, f"divergent parts {found}, planted {lost}"
        return a.count(), found

    t0 = time.perf_counter()
    tbl_h, _ = _digest_exchange(n_vecs // 2)
    tbl_f, div_f = _digest_exchange(n_vecs)
    assert tbl_h == tbl_f == 24, "digest table must be partition-sized"
    print(f"replica digest exchange: {tbl_h} digest rows @ {n_vecs // 2} "
          f"and @ {n_vecs} rows (constant — exchange cost is metadata, "
          f"not data; the {len(div_f)} divergent partitions pinpointed "
          f"exactly; {time.perf_counter() - t0:.1f}s)")
    spark.stop()


if __name__ == "__main__":
    main()
