"""Pipeline-extension tests: dedup tiers, similarity search, text stats."""

import pytest
from pyspark.sql import functions as F

from bigdata2016w_spark.registry import all_specs
from tests.oracle import compare_spark_duckdb

ORACLE_BACKED = ["dedup_exact", "dedup_jaccard", "dedup_minhash_lsh",
                 "dedup_simhash", "ann_bruteforce", "doc_stats",
                 "doc_lang_id", "ann_dim_truncation_recall"]


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_pipeline_matches_oracle(name, spark, sf_dir, duck):
    spec = all_specs()[name]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH candidates verified by exact Jaccard must be a subset of the
    exact result; recall should be high on the near-dup fixture."""
    exact = {(r.doc_a, r.doc_b) for r in
             all_specs()["dedup_jaccard"].fn(spark, sf_dir).collect()}
    approx = {(r.doc_a, r.doc_b) for r in
              all_specs()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()}
    assert approx <= exact
    if exact:
        assert len(approx & exact) / len(exact) >= 0.8


def test_simhash_finds_near_dupes(spark, sf_dir):
    out = all_specs()["dedup_simhash"].fn(spark, sf_dir)
    rows = out.collect()
    assert all(r.hamming <= 3 and r.doc_a < r.doc_b for r in rows)


def test_xxhash_scale_path_variants(spark, sf_dir):
    """The registered queries use the portable md5 family; the xxhash64
    default remains the 100 TB scale path and must keep the same
    guarantees: LSH output ⊆ exact Jaccard pairs with high recall, and
    simhash pairs within the hamming bound."""
    from bigdata2016w_spark.operators.dedup import (
        minhash_lsh_near_dupes,
        simhash_near_dupes,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.doc_a, r.doc_b) for r in
             all_specs()["dedup_jaccard"].fn(spark, sf_dir).collect()}
    approx = {(r.doc_a, r.doc_b) for r in
              minhash_lsh_near_dupes(docs, 0.5, portable=False).collect()}
    assert approx <= exact
    if exact:
        assert len(approx & exact) / len(exact) >= 0.8
    sim = simhash_near_dupes(docs, portable=False).collect()
    assert all(r.hamming <= 3 and r.doc_a < r.doc_b for r in sim)


def test_ann_lsh_recall(spark, sf_dir):
    """Approximate kNN recall@10 vs brute force on near-isotropic
    embeddings (the hardest case for sign-LSH): with 4 planes + 1-bit
    multiprobe ~31% of the corpus is scanned, so recall must beat that
    handily if ranking-by-cosine works."""
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    lsh = all_specs()["ann_lsh"].fn(spark, sf_dir).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    lsh_sets = {}
    for r in lsh:
        lsh_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q] & lsh_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.3


def test_embedding_near_dupes_shape(spark, sf_dir):
    rows = all_specs()["embedding_near_dupes"].fn(spark, sf_dir).collect()
    assert all(r.vec_a < r.vec_b and r.cosine >= 0.4 for r in rows)


def test_embedding_near_dupes_plane_count_scaling(spark, sf_dir):
    """num_planes is the scale knob (2^P buckets → N²/2^P verify cost):
    more planes must only *shrink* the candidate set — every pair found
    under stricter blocking is found under coarser blocking (a pair
    agrees on P+k sign bits ⇒ it agrees on the first P), and every
    reported pair still verifies cosine ≥ threshold."""
    from bigdata2016w_spark.operators.similarity import embedding_near_dupes
    from bigdata2016w_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    p4 = {(r.vec_a, r.vec_b) for r in
          embedding_near_dupes(emb, num_planes=4, n_tables=1).collect()}
    p8_rows = embedding_near_dupes(emb, num_planes=8, n_tables=1).collect()
    p8 = {(r.vec_a, r.vec_b) for r in p8_rows}
    assert p8 <= p4
    assert all(r.cosine >= 0.4 for r in p8_rows)


def test_embedding_near_dupes_candidates_linear_in_n(spark):
    """The registered query's blocking must not go quadratic as the corpus
    grows: P = log2(N/B) keeps candidate pairs ≈ L·N·B/2. Measured via
    bucket occupancy (Σ n_b·(n_b−1)/2 per table) on near-isotropic
    synthetic corpora: 8× the rows must cost ~8× the candidates — a
    fixed-P blocker would cost ~64×."""
    import numpy as np
    import pyspark.sql.functions as F

    from bigdata2016w_spark.operators.similarity import (
        EMB_MIN_PLANES,
        EMB_TABLES_AT_SCALE,
        LSH_SEED,
        _planes,
        adaptive_num_planes,
        lsh_bucket,
    )

    dim = 16

    def candidate_count(n: int) -> float:
        rng = np.random.RandomState(7)
        vecs = rng.randn(n, dim).round(3).tolist()
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        p = adaptive_num_planes(n)
        tables = 1 if p <= EMB_MIN_PLANES else EMB_TABLES_AT_SCALE
        total = 0.0
        for t in range(tables):
            occ = (
                df.select(
                    lsh_bucket(
                        F.col("embedding"), _planes(dim, p, seed=LSH_SEED + t)
                    ).alias("bucket")
                )
                .groupBy("bucket")
                .count()
                .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                .collect()[0][0]
            )
            total += occ
        return total

    c_small, c_big = candidate_count(2048), candidate_count(16384)
    assert c_small > 0
    assert c_big / c_small < 20  # ~8 expected; 64 would mean quadratic


def test_embedding_near_dupes_amplified_tables_keep_recall(spark):
    """Past the P=4 minimum the operator unions L independent plane
    tables; an identical-vector pair lands in the same bucket of EVERY
    table and must be reported exactly once despite the multi-table
    candidate union."""
    import numpy as np

    from bigdata2016w_spark.operators.similarity import (
        adaptive_num_planes,
        embedding_near_dupes,
    )

    n, dim = 2048, 16
    assert adaptive_num_planes(n) > 4  # exercises the amplified path
    rng = np.random.RandomState(11)
    vecs = rng.randn(n, dim).round(3)
    vecs[1] = vecs[0]  # planted exact duplicate
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    rows = embedding_near_dupes(df, threshold=0.999, dim=dim).collect()
    assert [(r.vec_a, r.vec_b) for r in rows] == [(0, 1)]


def test_ppjoin_candidates_linear_in_n(spark):
    """Pins the round-3 scale fix empirically: on a corpus whose shingle
    space is large relative to N (the 100-TB regime — random docs share
    essentially no shingles, planted dups share ~95%), doubling the
    corpus must ~double PPJoin's post-filter candidate pairs. A blocker
    that funnels unrelated docs together would go ~4×. Counted via the
    operator's own Observation metrics, not a re-derived plan."""
    import numpy as np

    from bigdata2016w_spark.operators.dedup import jaccard_near_dupes

    vocab = ["".join("abcdefghij"[int(c)] for c in str(t)) + "x"
             for t in range(5000)]

    def synth(n: int):
        rng = np.random.RandomState(7)
        draws = rng.randint(0, 5000, size=(n, 40))
        texts = [" ".join(vocab[t] for t in row) for row in draws]
        for i in rng.choice(n, size=max(1, n // 50), replace=False):
            if i == 0:
                continue
            words = texts[rng.randint(0, i)].split()
            words[rng.randint(0, len(words))] = vocab[rng.randint(0, 5000)]
            texts[i] = " ".join(words)
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ).repartition(8, "doc_id")

    def counts(n: int):
        m: dict = {}
        out = jaccard_near_dupes(synth(n), 0.5, metrics=m)
        n_pairs = out.count()
        return m["candidates"].get["n"], m["verified"].get["n"], n_pairs

    c_small, v_small, p_small = counts(1500)
    c_big, v_big, p_big = counts(3000)
    assert v_small == p_small and v_big == p_big  # observe == action count
    assert c_small > 0
    assert c_big / c_small < 3.2  # ~2 expected; 4 would mean quadratic
    assert v_big >= v_small  # planted dups found at both sizes


def test_jaccard_is_exact_on_known_pair(spark):
    from bigdata2016w_spark.operators.dedup import jaccard_near_dupes

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w q")],
        ["doc_id", "text"],
    )
    rows = jaccard_near_dupes(docs, threshold=0.1).collect()
    assert len(rows) == 1
    r = rows[0]
    # shingles(1) = {abc,bcd,cde}; shingles(2) = {abc,bcd,cdf}; J = 2/4
    assert (r.doc_a, r.doc_b) == (1, 2) and r.jaccard == 0.5


def test_curation_matches_oracle(spark, sf_dir, duck):
    spec = all_specs()["corpus_curation"]
    out = spec.fn(spark, sf_dir)
    assert out.count() > 0  # threshold keeps a nontrivial corpus
    compare_spark_duckdb(out, duck, spec.oracle)


def test_ann_ivf_recall(spark, sf_dir):
    """IVF recall@10 vs brute force must beat the scanned fraction
    (n_probe/n_cells = 1/4) clearly; determinism across runs."""
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    ivf = all_specs()["ann_ivf"].fn(spark, sf_dir).collect()
    ivf2 = all_specs()["ann_ivf"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, ivf2))
    bf_sets, ivf_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in ivf:
        ivf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q] & ivf_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.35


def test_ann_ivf_flat_oracle_and_recall(spark, sf_dir, duck):
    """Deterministic IVF-Flat: exact oracle parity AND recall@10 vs brute
    force above the scanned fraction (n_probe/n_cells = 1/4)."""
    spec = all_specs()["ann_ivf_flat"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    flat = spec.fn(spark, sf_dir).collect()
    bf_sets, fl_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in flat:
        fl_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q] & fl_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.3


def test_ann_ivf_lloyd_oracle_and_recall(spark, sf_dir, duck):
    """Exact-arithmetic Lloyd IVF (the oracle-verified twin of the
    MLlib-backed ann_ivf): bit-exact DuckDB parity of the FULL pipeline —
    2 unrolled training rounds, assignment, probe — plus recall@10 vs
    brute force above the scanned fraction (n_probe/n_cells = 1/4), and
    determinism across invocations (quantized-int64 centroid sums are
    partitioning-independent)."""
    spec = all_specs()["ann_ivf_lloyd"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    first = spec.fn(spark, sf_dir).collect()
    again = spec.fn(spark, sf_dir).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    bf_sets, iv_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in first:
        iv_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q] & iv_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.3


def test_label_centroids_oracle(spark, sf_dir, duck):
    from tests.oracle import compare_spark_duckdb

    spec = all_specs()["embedding_label_centroids"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_label_centroids_matches_numpy(spark, sf_dir):
    import numpy as np

    from bigdata2016w_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(r.embedding)
    got = {
        (r.label, r.dim): r.centroid
        for r in all_specs()["embedding_label_centroids"]
        .fn(spark, sf_dir).collect()
    }
    for label, vecs in by_label.items():
        mean = np.mean(np.array(vecs, dtype=np.float64), axis=0)
        for d, m in enumerate(mean):
            assert abs(got[(label, d)] - m) < 2e-6


def test_nearest_centroid_oracle(spark, sf_dir, duck):
    from tests.oracle import compare_spark_duckdb

    spec = all_specs()["embedding_nearest_centroid"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_nearest_centroid_counts_cover_corpus(spark, sf_dir):
    import pyspark.sql.functions as F

    from bigdata2016w_spark.sources.catalog import load_table

    out = all_specs()["embedding_nearest_centroid"].fn(spark, sf_dir)
    total = out.agg(F.sum("n_vectors")).collect()[0][0]
    assert total == load_table(spark, sf_dir, "embeddings").count()


def test_hard_negatives_oracle_and_labels(spark, sf_dir, duck):
    """Oracle parity plus the defining property: every mined negative has
    a different label than its anchor and ranks above any same-ranked
    farther vector (cosines non-increasing per anchor)."""
    spec = all_specs()["embedding_hard_negatives"]
    rows = spec.fn(spark, sf_dir).collect()
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    assert rows and all(r.anchor_label != r.neg_label for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.cosine)
    for cs in by_q.values():
        assert cs == sorted(cs, reverse=True)


def test_incremental_dedup_oracle(spark, sf_dir, duck):
    spec = all_specs()["documents_incremental_dedup"]
    out = spec.fn(spark, sf_dir)
    assert out.count() > 0
    compare_spark_duckdb(out, duck, spec.oracle)


def test_cross_near_dupes_planted(spark):
    """Cross-corpus PPJoin semantics on a planted corpus: finds the
    cross-boundary near-dup, classifies the exact copy as exact_dup
    (precedence over near_dup), never emits intra-side pairs, and keeps
    the genuinely new doc."""
    import duckdb

    from bigdata2016w_spark.operators.dedup import jaccard_cross_near_dupes

    base = "alpha beta gamma delta epsilon zeta eta theta"
    ref_rows = [
        (1, base),                     # reference original
        (2, base),                     # intra-ref duplicate (must NOT pair)
        (3, "one two three four five six seven"),
    ]
    inc_rows = [
        (4, base),                                        # exact copy
        (8, base.replace("theta", "iota")),               # near-dup
        (12, "totally different words here nothing shared"),  # new
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")
    pairs = jaccard_cross_near_dupes(ref, inc, 0.5).collect()
    probe_ids = {r.probe_id for r in pairs}
    index_ids = {r.index_id for r in pairs}
    assert probe_ids <= {4, 8} and probe_ids >= {4, 8}
    assert index_ids <= {1, 2}
    assert all(r.probe_id in {4, 8, 12} and r.index_id in {1, 2, 3}
               for r in pairs)  # strictly cross-boundary

    # registered-query status precedence on the same corpus via tmp dir
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in ref_rows + inc_rows],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: r.status for r in all_specs()[
            "documents_incremental_dedup"].fn(spark, d).collect()}
        assert got == {4: "exact_dup", 8: "near_dup", 12: "kept"}
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM"
                f" '{d}/documents.parquet/*.parquet'")
        want = dict(con.execute(
            all_specs()["documents_incremental_dedup"].oracle).fetchall())
        assert want == got


def test_cross_near_dupes_equals_union_subset(spark, sf_dir):
    """Two independent PPJoin implementations must agree exactly: the
    cross-corpus operator's result on (ref, probe) is precisely the
    cross-boundary subset of the full-corpus operator on ref ∪ probe —
    both prefix filters are lossless, so this is equality of exact
    Jaccard sets, not an approximation check."""
    from bigdata2016w_spark.operators.dedup import (
        jaccard_cross_near_dupes,
        jaccard_near_dupes,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 4 == 0)
    ref = docs.where(F.col("doc_id") % 4 != 0)
    cross = {(r.probe_id, r.index_id, round(r.jaccard, 12))
             for r in jaccard_cross_near_dupes(ref, probe, 0.5).collect()}
    full = jaccard_near_dupes(docs, 0.5).collect()
    want = set()
    for r in full:
        a_in = r.doc_a % 4 == 0
        b_in = r.doc_b % 4 == 0
        if a_in != b_in:  # cross-boundary only
            p, i = (r.doc_a, r.doc_b) if a_in else (r.doc_b, r.doc_a)
            want.add((p, i, round(r.jaccard, 12)))
    assert cross == want and cross  # equal and non-vacuous


def test_pii_scrub_idempotent(spark, sf_dir):
    """Scrubbing already-scrubbed text is a no-op: redaction tags match
    no PII pattern, so a second pass changes nothing and counts zero."""
    from bigdata2016w_spark.plans.curation import scrub_pii
    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    once = scrub_pii(docs).select(
        "doc_id", F.col("clean_text").alias("text"))
    twice = scrub_pii(once).collect()
    first = {r.doc_id: r.clean_text
             for r in scrub_pii(docs).collect()}
    for r in twice:
        assert r.clean_text == first[r.doc_id]
        assert (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4) == (0, 0, 0, 0)


def test_token_budget_mix_is_subset_with_valid_rates(spark, sf_dir):
    """Mix output ⊆ corpus (same doc rows), and no source is sampled
    above keep-everything."""
    from bigdata2016w_spark.registry import all_specs
    from bigdata2016w_spark.sources.catalog import load_table

    out = all_specs()["documents_token_budget_mix"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    assert out.join(docs.select("doc_id"), "doc_id", "left_anti").count() == 0
    base = {r["source"]: r["n"] for r in docs.groupBy("source")
            .agg(F.count("*").alias("n")).collect()}
    samp = {r["source"]: r["n"] for r in out.groupBy("source")
            .agg(F.count("*").alias("n")).collect()}
    assert all(samp[s] <= base[s] for s in samp)


def test_ivf_persisted_index_probe(spark, sf_dir, tmp_path):
    """The on-disk inverted file: assignment written partitionBy(cell),
    probe results match an independent NumPy recomputation (centroid
    means -> cell ranking -> in-cell exact cosine top-k), and the probe
    scan carries a dynamic partition-pruning filter on cell — the
    n_probe/n_cells scan fraction holds at the directory level."""
    import numpy as np

    from bigdata2016w_spark.operators.similarity import (
        CENTROID_QUANT,
        _assign_to_literal_centroids,
        _index_layout,
        knn_from_index,
    )
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    cent_lit = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 16).collect()
    )
    assigned = _assign_to_literal_centroids(
        emb.select("vec_id", "embedding"), cent_lit)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, path)

    assert _index_layout(spark, path) == "ivf_flat"
    k, n_probe = 10, 4
    queries = emb.where(F.col("vec_id").isin(0, 1, 2))
    out = knn_from_index(spark, path, queries, k=k, n_probe=n_probe)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))

    # independent recomputation
    rows = spark.read.parquet(path).collect()
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in rows}
    cells = {int(r.vec_id): int(r.cell) for r in rows}
    cent = {}
    for c in sorted(set(cells.values())):
        members = np.stack([vecs[v] for v in vecs if cells[v] == c])
        q = np.round(members * CENTROID_QUANT)
        cent[c] = np.round(q.sum(0) / len(members) / CENTROID_QUANT, 6)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for qid in (0, 1, 2):
        ranked_cells = sorted(
            cent, key=lambda c: (-cos(vecs[qid], cent[c]), c))[:n_probe]
        cand = [v for v in vecs
                if cells[v] in ranked_cells and v != qid]
        want = sorted(
            ((v, cos(vecs[qid], vecs[v])) for v in cand),
            key=lambda t: (-t[1], t[0]))[:k]
        assert [v for v, _ in want] == [v for v, _ in got[qid]]
        for (_, cw), (_, cg) in zip(want, got[qid]):
            assert abs(cw - cg) < 1e-9

    # physical proof: the index scan is dynamically partition-pruned
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        knn_from_index(spark, path, queries).explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan


def test_containment_dupes_oracle_and_planted(spark, sf_dir, duck):
    """Containment tier: oracle parity on the corpus, and the defining
    case — a short doc quoted whole inside a long one — is found at
    containment 1.0 despite Jaccard far below any near-dup threshold."""
    from bigdata2016w_spark.operators.dedup import (
        containment_near_dupes,
        jaccard_near_dupes,
    )

    spec = all_specs()["documents_containment_dupes"]
    out = spec.fn(spark, sf_dir)
    assert out.count() > 0
    compare_spark_duckdb(out, duck, spec.oracle)

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}a w{i}b w{i}c" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        "doc_id long, text string",
    )
    got = containment_near_dupes(docs, 0.9).collect()
    assert [(r.doc_contained, r.doc_container) for r in got] == [(1, 2)]
    assert got[0].containment == 1.0
    assert jaccard_near_dupes(docs, 0.5).count() == 0  # Jaccard misses it


def test_table_row_count_matches_spark(spark, sf_dir):
    """The footer-stat row count (used to size the embedding LSH blocker
    without a count() scan) must agree with a real Spark count."""
    from bigdata2016w_spark.sources.catalog import load_table, table_row_count

    import pytest as _pytest

    for t in ("embeddings", "documents", "nation"):
        assert table_row_count(sf_dir, t) == load_table(spark, sf_dir, t).count()
    with _pytest.raises(KeyError):
        table_row_count(sf_dir, "nope")


def test_embedding_near_dupes_no_count_scan_with_stat(spark, sf_dir, monkeypatch):
    """With n_vectors supplied (the registered query passes the parquet
    footer stat), building the near-dup plan must trigger NO Spark
    count() action — the blocker sizing is a metadata read."""
    from pyspark.sql import DataFrame

    from bigdata2016w_spark.operators.similarity import embedding_near_dupes
    from bigdata2016w_spark.sources.catalog import load_table, table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")

    def boom(self):
        raise AssertionError("count() action during plan build")

    monkeypatch.setattr(DataFrame, "count", boom)
    df = embedding_near_dupes(emb, n_vectors=n)  # must not raise
    monkeypatch.undo()
    assert df.count() >= 0  # plan executes normally afterwards


def test_cross_and_containment_metrics_observe_candidates(spark, sf_dir):
    """The metrics dicts added for the scale smoke report the true
    candidate counts (>= the verified pair counts, > 0 on the planted
    near-dup corpus)."""
    from bigdata2016w_spark.operators.dedup import (
        containment_near_dupes,
        jaccard_cross_near_dupes,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    xm: dict = {}
    n_cross = jaccard_cross_near_dupes(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        metrics=xm,
    ).count()
    assert int(xm["candidates"].get["n"]) >= n_cross

    cm: dict = {}
    n_cont = containment_near_dupes(docs, 0.9, metrics=cm).count()
    assert int(cm["candidates"].get["n"]) >= n_cont
    assert int(cm["candidates"].get["n"]) > 0


def test_dedup_keep_best_oracle(spark, sf_dir, duck):
    spec = all_specs()["dedup_keep_best"]
    out = spec.fn(spark, sf_dir)
    assert out.count() > 0
    compare_spark_duckdb(out, duck, spec.oracle)


def test_dedup_keep_best_prefers_quality_over_min_id(spark, tmp_path):
    """Survivor selection must pick the highest-quality cluster member,
    not the lowest doc_id: doc 1 (min id, degenerate repetition) and
    doc 2 (same text, one repeat swapped for a fresh word -> higher
    type-token ratio) near-dup each other; the kept doc must be 2."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.functions.textstats import quality_col
    from bigdata2016w_spark.plans.pipeline import dedup_keep_best

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on green hills and birds sing {} songs at dawn today")
    rows = [
        (1, base.format("dawn"), "en", "s", 1),   # 'dawn' repeats: low ttr
        (2, base.format("happy"), "en", "s", 1),  # fresh word: higher ttr
        (3, "completely unrelated text about spark shuffles and joins "
            "nothing shared with the others at all in any window here",
         "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    q = {r.doc_id: r.q for r in docs.select(
        "doc_id", quality_col(F.col("text")).alias("q")).collect()}
    assert q[2] > q[1]  # the fixture premise

    kept = dedup_keep_best(spark, str(tmp_path)).collect()
    assert len(kept) == 1  # one cluster {1, 2}; doc 3 joins no cluster
    row = kept[0]
    assert row.cluster_rep == 1      # rep stays the min id (stable key)
    assert row.kept_doc == 2         # but the SURVIVOR is the best copy
    assert row.n_members == 2
    assert row.quality == q[2]


def test_rejection_audit_oracle(spark, sf_dir, duck):
    spec = all_specs()["documents_rejection_audit"]
    out = spec.fn(spark, sf_dir)
    assert out.count() > 0
    compare_spark_duckdb(out, duck, spec.oracle)


def test_rejection_audit_covers_corpus_and_explains_curation(spark, sf_dir):
    """The audit must (a) have a row for EVERY corpus doc, (b) mark as
    'kept' exactly corpus_curation's survivor set, and (c) give every
    non-survivor a concrete reason."""
    from bigdata2016w_spark.sources.catalog import load_table

    audit = {r.doc_id: r.status for r in
             all_specs()["documents_rejection_audit"].fn(
                 spark, sf_dir).collect()}
    all_ids = {r.doc_id for r in
               load_table(spark, sf_dir, "documents").collect()}
    assert set(audit) == all_ids
    survivors = {r.doc_id for r in
                 all_specs()["corpus_curation"].fn(spark, sf_dir).collect()}
    assert {d for d, s in audit.items() if s == "kept"} == survivors
    assert set(audit.values()) <= {"kept", "empty", "low_quality",
                                   "near_dup_loser"}


def test_ann_pq_adc_oracle_and_recall(spark, sf_dir, duck):
    """Product-quantization ADC: bit-exact DuckDB parity of the FULL
    pipeline (sampled codebook training incl. one integer-exact Lloyd
    step, encoding, LUT build, ADC ranking), plus recall@10 vs brute
    force well above the 2% random baseline. The synthetic embeddings
    are near-isotropic — the hardest case for 4-bit PQ — so the bound is
    deliberately modest."""
    spec = all_specs()["ann_pq_adc"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    pq = spec.fn(spark, sf_dir).collect()
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    bf_sets, pq_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q] & pq_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.2
    # ADC distances are int64-exact -> invocation-order independent
    assert sorted(map(tuple, pq)) == sorted(
        map(tuple, spec.fn(spark, sf_dir).collect()))


def test_pq_codes_shape_and_range(spark, sf_dir):
    """The codes table is the persisted artifact: exactly M rows per
    vector, every code one of the (surviving) codebook ids — i.e. each
    vector compresses to M small ints."""
    from bigdata2016w_spark.operators.similarity import (
        PQ_CODES, PQ_SUBSPACES, pq_codebook, pq_encode,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb)
    codes = pq_encode(emb, cb)
    n = emb.count()
    per_vec = codes.groupBy("vec_id").count().collect()
    assert len(per_vec) == n
    assert all(r["count"] == PQ_SUBSPACES for r in per_vec)
    valid = {(r["m"], r["code"]) for r in cb.select("m", "code").collect()}
    assert len(valid) <= PQ_SUBSPACES * PQ_CODES
    used = {(r["m"], r["code"]) for r in codes.select("m", "code").distinct().collect()}
    assert used <= valid


def test_pq_adc_exact_on_codebook_points(spark):
    """Planted corpus where PQ is lossless: 4 distinct vectors (the init
    codewords) each duplicated once. Every sub-vector sits exactly on a
    codeword, so the Lloyd mean reproduces it (values at 6 dp), encoding
    is exact, and each query's nearest ADC neighbor is its duplicate at
    adc_d2 == 0."""
    from bigdata2016w_spark.operators.similarity import knn

    base = [
        [1.0, 0.0, 0.5, 0.25, -1.0, 2.0, 0.125, 0.5],
        [0.0, 1.0, -0.5, 0.75, 1.0, -2.0, 0.25, 0.0],
        [2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0],
        [-1.0, -1.0, 0.0, 0.0, 1.0, 1.0, 3.0, 3.0],
    ]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(i + 4, v) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = knn(emb, [0, 1], k=1, code="pq", n_codes=4, n_subspaces=4, dim=8)
    got = {r.query_id: (r.vec_id, r.adc_d2) for r in out.collect()}
    assert got == {0: (4, 0), 1: (5, 0)}


def test_corpus_curation_semdedup_oracle_and_derivation(spark, sf_dir, duck):
    """The semantic curation tier must match its DuckDB oracle AND equal
    the piecewise derivation (quality gate minus semantic_dedup
    dropped_ids) — the registered twin the CLI's --dedup semdedup calls,
    so the export command and the certified surface can never drift."""
    spec = all_specs()["corpus_curation_semdedup"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)

    from bigdata2016w_spark.plans.pipeline import quality_gated_stats

    gated = {r.doc_id for r in
             quality_gated_stats(spark, sf_dir).collect()}
    dropped = {r.dropped_id for r in
               all_specs()["semantic_dedup"].fn(spark, sf_dir).collect()}
    got = {r.doc_id for r in spec.fn(spark, sf_dir).collect()}
    assert got == gated - dropped
    assert dropped & gated  # the tier actually removes something here


def test_ann_ivf_pq_rerank_oracle_and_recall_gain(spark, sf_dir, duck):
    """Two-stage ANN (ADC shortlist → exact cosine re-rank): bit-exact
    DuckDB parity of the composed pipeline, k rows per query in
    bruteforce-comparable (query_id, vec_id, cosine) shape, and the
    point of the stage — recall at least the ADC-only residual tier's
    (exact re-ranking can only fix quantization reorderings inside the
    shortlist, never introduce new ones)."""
    from bigdata2016w_spark.plans.pipeline import KNN_K, KNN_QUERY_IDS

    spec = all_specs()["ann_ivf_pq_rerank"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    rows = spec.fn(spark, sf_dir).collect()
    assert {r.query_id for r in rows} == set(KNN_QUERY_IDS)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == KNN_K for v in per_q.values())
    rr = _mean_recall_vs_bruteforce(spark, sf_dir, "ann_ivf_pq_rerank")
    res = _mean_recall_vs_bruteforce(spark, sf_dir, "ann_ivf_pq_residual")
    assert rr >= res, (rr, res)
    assert rr >= 0.5


@pytest.fixture(scope="module")
def ivfpq_full_index(spark, sf_dir, tmp_path_factory):
    """Full-corpus persisted IVF-PQ index, built ONCE per module and
    shared by the read-only probe tests (training is deterministic, so
    sharing is observationally identical to per-test builds; tests that
    MUTATE an index — append, compact — still build their own)."""
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    path = str(tmp_path_factory.mktemp("ivfpq") / "full_idx")
    write_ivfpq_index(load_table(spark, sf_dir, "embeddings"), path)
    return path


@pytest.mark.parametrize("layout", ["pq", "ivfpq"])
def test_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path, request,
                                          layout):
    """Each persisted PQ layout → knn_from_index must reproduce its
    in-memory knn twin bit-exactly (codebook/centroid doubles, byte
    codes, and int64 LUT distances all round-trip parquet), knn_from_index
    must detect the layout from the directory alone, and the persisted
    codes must be materially smaller than the raw embeddings. The IVF-PQ
    probe scan must also be statically partition-pruned so only probed
    cell directories are read. (The IVF-flat layout's twin is a NumPy
    recomputation: test_ivf_persisted_index_probe.)"""
    import contextlib
    import io
    import os
    import re

    from bigdata2016w_spark.operators.similarity import (
        _index_layout,
        knn,
        knn_from_index,
    )
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_pq_index

    emb = load_table(spark, sf_dir, "embeddings")
    if layout == "pq":
        path = str(tmp_path / "pq_index")
        write_pq_index(emb, path)
        twin = {"code": "pq"}
    else:
        path = request.getfixturevalue("ivfpq_full_index")
        twin = {"coarse": "lloyd", "code": "residual_pq", "n_cells": 16,
                "n_probe": 4}
    assert _index_layout(spark, path) == layout
    qids = [0, 1, 2, 3, 4]
    queries = emb.where(emb.vec_id.isin(qids)).select("vec_id", "embedding")
    from_index = knn_from_index(spark, path, queries, k=10, n_probe=4)
    in_memory = knn(emb, qids, k=10, **twin).collect()
    assert sorted(map(tuple, from_index.collect())) == \
        sorted(map(tuple, in_memory))

    def _bytes(d):
        if os.path.isfile(d):
            return os.path.getsize(d)
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(d) for f in fs
                   if f.endswith(".parquet"))

    assert _bytes(f"{path}/codes") < _bytes(f"{sf_dir}/embeddings.parquet") / 3

    if layout == "ivfpq":
        # physical proof: the codes scan is partition-pruned STATICALLY —
        # the probed cells are known at planning time (driver-materialized
        # LUT), so the hive `cell` filter lands in PartitionFilters and
        # the scan never lists unprobed directories
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            from_index.explain("formatted")
        plan = buf.getvalue()
        m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
        assert m and "IN" in m.group(1).upper(), plan[:2000]


def test_similarity_has_two_knn_entry_points():
    """operators/similarity.py exposes kNN search as ONE pipeline: its
    only public ``knn*`` functions are ``knn`` and ``knn_from_index``
    (every variant is a stage choice, not another entry point)."""
    import ast
    from pathlib import Path

    import bigdata2016w_spark.operators.similarity as sim

    tree = ast.parse(Path(sim.__file__).read_text())
    names = sorted(n.name for n in tree.body
                   if isinstance(n, ast.FunctionDef)
                   and n.name.startswith("knn"))
    assert names == ["knn", "knn_from_index"]


def test_ivfpq_rerank_from_index_matches_inmemory(spark, sf_dir, tmp_path,
                                                  ivfpq_full_index):
    """The persisted two-stage path (index ADC shortlist → exact cosine
    re-rank) must reproduce the in-memory rerank bit-exactly on the same
    corpus — and stay bit-exact when half the corpus arrives through the
    STREAMING append sink and the shortlist reads base + streamed codes
    (include_streamed), versus the in-memory pipeline under the same
    frozen half-trained models."""
    import os
    import shutil

    from bigdata2016w_spark.operators.similarity import (
        knn,
        knn_from_index,
        lloyd_centroids,
        residual_pq_codebook,
    )
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import ivfpq_append_sink

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    queries = emb.where(emb.vec_id.isin(qids)).select("vec_id", "embedding")

    # full-corpus index: same deterministic training as the in-memory op
    # (shared module fixture — training is deterministic)
    path = ivfpq_full_index
    got = knn_from_index(
        spark, path, queries, k=10, n_probe=4, rerank=3, embeddings=emb
    ).collect()
    want = knn(emb, qids, k=10, coarse="lloyd", code="residual_pq",
               rerank=3, n_cells=16, n_probe=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # half-trained index + streamed other half == in-memory rerank over
    # the full corpus under the frozen half-trained models
    first = emb.where(emb.vec_id % 2 == 0)
    tail = emb.where(emb.vec_id % 2 == 1)
    grow = str(tmp_path / "grow_idx")
    write_ivfpq_index(first, grow)
    w = tmp_path / "w"
    tail.select("vec_id", "embedding").coalesce(1).write.parquet(str(w))
    sdir = tmp_path / "in"
    sdir.mkdir()
    shutil.copy(next(w.rglob("part-*.parquet")), sdir / "0.parquet")
    os.utime(sdir / "0.parquet")
    src = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .parquet(str(sdir))
    )
    ivfpq_append_sink(src, grow, str(tmp_path / "ckpt")).awaitTermination()
    got2 = knn_from_index(
        spark, grow, queries, k=10, n_probe=4, rerank=3, embeddings=emb,
        include_streamed=True,
    ).collect()
    cent = lloyd_centroids(first.where(first.embedding.isNotNull()))
    cb = residual_pq_codebook(first, centroids=cent)
    want2 = knn(
        emb, qids, k=10, coarse="lloyd", code="residual_pq", rerank=3,
        n_cells=16, n_probe=4, codebook=cb, centroids=cent,
    ).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))


def test_ivfpq_index_append_matches_full_inmemory(spark, sf_dir, tmp_path):
    """Train-once, append-forever: an index built on HALF the corpus
    then appended with the other half must search bit-identically to
    the in-memory residual pipeline running over the FULL corpus with
    the half-trained models (frozen centroids + codebook) — i.e. the
    append encoded the new vectors against the existing models without
    touching them. Appending to an empty index raises."""
    import pytest

    from bigdata2016w_spark.operators.similarity import (
        knn,
        knn_from_index,
        lloyd_centroids,
        residual_pq_codebook,
    )
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import (
        ivfpq_index_append,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.where(emb.vec_id % 2 == 0)
    second = emb.where(emb.vec_id % 2 == 1)
    path = str(tmp_path / "ivfpq_grow")
    write_ivfpq_index(first, path)
    ivfpq_index_append(spark, path, second)

    qids = [0, 1, 2, 3, 4]
    queries = emb.where(emb.vec_id.isin(qids)).select("vec_id", "embedding")
    from_index = knn_from_index(
        spark, path, queries, k=10, n_probe=4
    ).collect()
    cent = lloyd_centroids(first.where(first.embedding.isNotNull()))
    cb = residual_pq_codebook(first, centroids=cent)
    in_memory = knn(
        emb, qids, k=10, coarse="lloyd", code="residual_pq", n_cells=16,
        n_probe=4, codebook=cb, centroids=cent,
    ).collect()
    assert sorted(map(tuple, from_index)) == sorted(map(tuple, in_memory))

    empty_path = str(tmp_path / "ivfpq_never")
    write_ivfpq_index(
        spark.createDataFrame([], "vec_id bigint, embedding array<float>"),
        empty_path,
    )
    with pytest.raises(ValueError, match="no centroids"):
        ivfpq_index_append(spark, empty_path, second)


def test_ivfpq_index_empty_corpus(spark, tmp_path):
    """An empty (or all-NULL-embedding) corpus writes a valid, empty
    index and the probe returns an empty typed frame."""
    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    emb = spark.createDataFrame(
        [(1, None)], "vec_id bigint, embedding array<float>"
    )
    path = str(tmp_path / "ivfpq_empty")
    write_ivfpq_index(emb, path)
    out = knn_from_index(spark, path, emb)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == \
        ["query_id", "vec_id", "adc_d2"]


def test_semantic_dedup_oracle_and_convention(spark, sf_dir, duck):
    """SemDeDup drop list: bit-exact oracle parity (assignment + in-cell
    pair search + witness argmax), and the survivor convention — every
    dropped vector cites a strictly lower id at/above the threshold."""
    spec = all_specs()["semantic_dedup"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    rows = spec.fn(spark, sf_dir).collect()
    assert all(r.witness_id < r.dropped_id for r in rows)
    assert all(r.cosine >= 0.4 for r in rows)
    assert len({r.dropped_id for r in rows}) == len(rows)


def test_semantic_dedup_planted_duplicates(spark):
    """Exact copies planted into a corpus of 16 seed vectors must land on
    the drop list with their twin as witness at cosine ≈ 1, in the
    twin's cell."""
    import random

    from bigdata2016w_spark.operators.similarity import semdedup_drop_list

    rng = random.Random(7)
    base = [[round(rng.uniform(-1, 1), 3) for _ in range(8)]
            for _ in range(16)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(16, list(base[3])), (17, list(base[9]))]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.dropped_id: r for r in
           semdedup_drop_list(emb, threshold=0.9).collect()}
    assert set(out) == {16, 17}
    assert out[16].witness_id == 3 and out[16].cosine > 0.999
    assert out[17].witness_id == 9 and out[17].cosine > 0.999
    assert out[16].cell == 3 and out[17].cell == 9


def test_ann_ivf_pq_oracle_and_recall(spark, sf_dir, duck):
    """IVF-PQ: bit-exact DuckDB parity of the composed pipeline (coarse
    cosine assignment + probe ranking + sampled PQ training + ADC over
    probed cells only), recall@10 vs brute force well above the random
    baseline despite scanning ~n_probe/n_cells of the corpus as 4-bit
    codes, and k rows per query."""
    from bigdata2016w_spark.plans.pipeline import KNN_K, KNN_QUERY_IDS

    spec = all_specs()["ann_ivf_pq"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    pq = spec.fn(spark, sf_dir).collect()
    assert {r.query_id for r in pq} == set(KNN_QUERY_IDS)
    per_q = {}
    for r in pq:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == KNN_K for v in per_q.values())
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    bf_sets, pq_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q] & pq_sets.get(q, set())) / len(bf_sets[q])
               for q in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.25


def _mean_recall_vs_bruteforce(spark, sf_dir, name):
    bf = all_specs()["ann_bruteforce"].fn(spark, sf_dir).collect()
    got = all_specs()[name].fn(spark, sf_dir).collect()
    bf_sets, g_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in got:
        g_sets.setdefault(r.query_id, set()).add(r.vec_id)
    return sum(
        len(bf_sets[q] & g_sets.get(q, set())) / len(bf_sets[q])
        for q in bf_sets
    ) / len(bf_sets)


def test_ann_ivf_pq_residual_oracle_and_recall_vs_global(spark, sf_dir, duck):
    """Residual-aware IVF-PQ (the standard Jégou formulation): bit-exact
    DuckDB parity of the full composed pipeline (coarse assignment →
    residual decomposition → residual codebook training → per-probed-cell
    query-residual LUT → ADC), k rows per query, and the capability
    claim itself — recall@10 must be at least the global-codebook
    variant's, since the code budget now quantizes only what the coarse
    quantizer didn't explain."""
    from bigdata2016w_spark.plans.pipeline import KNN_K, KNN_QUERY_IDS

    spec = all_specs()["ann_ivf_pq_residual"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)
    rows = spec.fn(spark, sf_dir).collect()
    assert {r.query_id for r in rows} == set(KNN_QUERY_IDS)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == KNN_K for v in per_q.values())
    res_recall = _mean_recall_vs_bruteforce(spark, sf_dir,
                                            "ann_ivf_pq_residual")
    glob_recall = _mean_recall_vs_bruteforce(spark, sf_dir, "ann_ivf_pq")
    assert res_recall >= glob_recall, (res_recall, glob_recall)
    assert res_recall >= 0.25


def test_validated_embeddings_validate_once_path(spark):
    """The validate-once materialization (validated_embeddings, shared
    by the pipeline's tiers) must (a) RAISE at validation time on a
    length-mismatched row, (b) silently drop NULL embeddings (the
    oracle-parity convention), and (c) leave every tier's results
    bit-identical to the same tier run on the raw frame: it carries the
    same rows with the same values, and each tier's own entry check
    passes every row it holds."""
    import pytest

    from bigdata2016w_spark.operators.similarity import (
        knn,
        lloyd_centroids,
        validated_embeddings,
    )

    base = [
        [1.0, 0.0, 0.5, 0.25, -1.0, 2.0, 0.125, 0.5],
        [0.0, 1.0, -0.5, 0.75, 1.0, -2.0, 0.25, 0.0],
        [2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0],
        [-1.0, -1.0, 0.0, 0.0, 1.0, 1.0, 3.0, 3.0],
    ]
    clean = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base + base)],
        "vec_id bigint, embedding array<float>",
    )
    # (a) short row: the eager materialization IS the validation point
    dirty = clean.union(spark.createDataFrame(
        [(8, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<float>"))
    with pytest.raises(Exception, match="does not match the PQ geometry"):
        validated_embeddings(dirty, dim=8)
    # (b) NULL row: dropped at validation, not raised
    with_null = clean.union(spark.createDataFrame(
        [(9, None)], "vec_id bigint, embedding array<float>"))
    valid = validated_embeddings(with_null, dim=8)
    assert valid.count() == 8

    # (c) bit-identical results through every geometry-bound tier
    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert lloyd_centroids(valid, n_cells=4, n_iter=1, dim=8) == \
        lloyd_centroids(with_null, n_cells=4, n_iter=1, dim=8)
    for mode in (
        {"coarse": "lloyd", "n_cells": 4, "n_probe": 2, "n_iter": 1},
        {"code": "pq", "n_codes": 4, "n_subspaces": 4},
        {"coarse": "seed", "code": "pq", "n_cells": 4, "n_probe": 2,
         "n_codes": 4, "n_subspaces": 4},
        {"coarse": "lloyd", "code": "residual_pq", "rerank": 3,
         "n_cells": 4, "n_probe": 2, "n_codes": 4, "n_subspaces": 4},
    ):
        assert rows(knn(valid, [0, 1], k=2, dim=8, **mode)) == \
            rows(knn(with_null, [0, 1], k=2, dim=8, **mode))


def test_ivf_probe_sweep_oracle(spark, duck, sf_dir):
    from bigdata2016w_spark.registry import all_specs
    from tests.oracle import compare_spark_duckdb

    s = all_specs()["ann_ivf_probe_sweep"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_ivf_probe_sweep_monotone_and_exhaustive_at_full_probe(spark, sf_dir):
    """Recall must be non-decreasing in n_probe (each threshold is a
    superset of candidates), and probing every cell must recover the
    brute-force answer exactly (recall = 1.0) — the property that makes
    the sweep a trustworthy tuning curve."""
    from bigdata2016w_spark.operators.similarity import (
        ivf_probe_recall_sweep,
    )
    from bigdata2016w_spark.plans.pipeline import (
        _IVF_CELLS,
        KNN_K,
        KNN_QUERY_IDS,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = ivf_probe_recall_sweep(
        emb, KNN_QUERY_IDS, KNN_K,
        n_cells=_IVF_CELLS, probes=(1, 4, _IVF_CELLS),
    ).collect()
    recalls = [r["avg_recall"] for r in rows]
    assert recalls == sorted(recalls)
    assert rows[-1]["n_probe"] == _IVF_CELLS
    assert recalls[-1] == 1.0


def test_jaccard_admission_matches_oracle(spark, duck, sf_dir):
    s = all_specs()["documents_jaccard_admission"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_jaccard_admission_ledger_invariants(spark, sf_dir):
    """Structural invariants the oracle can't state: batch 0 holds only
    even doc_ids and batch 1 only odd (the split really drove the
    micro-batch order), no doc admitted twice, and no admitted batch-1
    text exactly duplicates an admitted batch-0 text (the cross-batch
    exact gate held)."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.plans.pipeline import (
        documents_jaccard_admission,
    )
    from bigdata2016w_spark.sources.catalog import load_table

    rows = documents_jaccard_admission(spark, sf_dir).collect()
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


def test_embedding_admission_matches_oracle(spark, duck, sf_dir):
    s = all_specs()["embeddings_semdedup_admission"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_embedding_admission_ledger_invariants(spark, sf_dir):
    """Structural invariants the oracle can't state: batch 0 holds only
    even vec_ids and batch 1 only odd (the split really drove the
    micro-batch order), no vector admitted twice, and the streamed
    ledger equals a static batch-wise replay through
    admit_embedding_batch — the streamed composition pinned to the
    batch surface (the test_ivm_equals_from_scratch_rebuild
    convention), so a streaming-machinery bug (replay listing, batch
    ordering) can't hide behind a matching oracle edit."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.plans.pipeline import (
        SEMDEDUP_THRESHOLD,
        embeddings_semdedup_admission,
    )
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.streaming.ingest import admit_embedding_batch

    rows = embeddings_semdedup_admission(spark, sf_dir).collect()
    b0 = {r.vec_id for r in rows if r.batch == 0}
    b1 = {r.vec_id for r in rows if r.batch == 1}
    assert b0 and b1 and not (b0 & b1)
    assert all(i % 2 == 0 for i in b0)
    assert all(i % 2 == 1 for i in b1)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    empty = spark.createDataFrame([], emb.schema)
    s0 = admit_embedding_batch(
        emb.where(F.col("vec_id") % 2 == 0), empty,
        SEMDEDUP_THRESHOLD, n_accepted=0,
    )
    want0 = {r.vec_id for r in s0.collect()}
    s1 = admit_embedding_batch(
        emb.where(F.col("vec_id") % 2 == 1),
        emb.where(F.col("vec_id").isin(want0)),
        SEMDEDUP_THRESHOLD, n_accepted=len(want0),
    )
    want1 = {r.vec_id for r in s1.collect()}
    assert b0 == want0 and b1 == want1


def test_adc_lut_driver_raises_on_zero_norm():
    """ANSI parity at the serve path's driver-side LUT: the in-plan
    twin divides cosine's dot by the product of norms with ANSI
    division (zero divisor raises DIVIDE_BY_ZERO), so the driver-side
    replay must RAISE on a zero-norm query or centroid — not return
    IEEE inf/NaN and silently probe differently-ranked cells."""
    import pytest as _pytest

    from bigdata2016w_spark.operators.similarity import _adc_lut_driver

    cb = [(0, 0, [0.0, 0.0]), (0, 1, [1.0, 1.0])]
    cents = [(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0])]
    zero_q = [{"vec_id": 7, "embedding": [0.0, 0.0, 0.0, 0.0]}]
    with _pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
        _adc_lut_driver(zero_q, cents, cb, n_probe=1,
                        n_subspaces=2, sd=2, dim=4)
    ok_q = [{"vec_id": 7, "embedding": [1.0, 0.0, 0.0, 0.0]}]
    zero_cent = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 1.0, 0.0])]
    with _pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
        _adc_lut_driver(ok_q, zero_cent, cb, n_probe=1,
                        n_subspaces=2, sd=2, dim=4)
    # the non-degenerate case still produces |Q|*n_probe*M*K LUT rows
    rows = _adc_lut_driver(ok_q, cents, cb, n_probe=1,
                           n_subspaces=2, sd=2, dim=4)
    assert len(rows) == 1 * 1 * 2 * 1  # one codeword registered per m=0


def test_index_models_cache_alias_invalidation(spark, sf_dir, tmp_path):
    """The session-shared index models are keyed on a NORMALIZED path:
    an entry filled through a trailing-slash (or relative) alias of the
    index path must be invalidated by a rewrite addressed with the plain
    path — otherwise every subsequent probe silently serves the stale
    centroids/codebook."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import (
        _index_cache_key,
        _index_models,
    )
    from bigdata2016w_spark.shared import _entries
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb.where(F.col("vec_id") < 64), path,
                      n_cells=4)
    # fill the cache through a trailing-slash ALIAS of the same path
    _, cents_v1 = _index_models(spark, path + "/")
    assert _index_cache_key(path + "/") == _index_cache_key(path)
    assert _index_cache_key(path) in _entries(spark)
    # rewrite through the plain path with a different corpus slice
    # (both slices contain vec_ids 0..n_cells-1 — the seed-centroid
    # convention — but Lloyd refines over different corpora, so the
    # refined centroids differ)
    write_ivfpq_index(emb.where(F.col("vec_id") < 128), path,
                      n_cells=4)
    assert _index_cache_key(path) not in _entries(spark)
    _, cents_v2 = _index_models(spark, path)
    assert cents_v1 != cents_v2


def test_ann_ivf_filtered_matches_oracle(spark, duck, sf_dir):
    s = all_specs()["ann_ivf_filtered"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_filtered_search_semantics(spark, sf_dir):
    """Filtered-search invariants the oracle can't state:
    (a) every returned candidate satisfies the predicate;
    (b) probing ALL cells makes filtered IVF equal filtered brute
        force exactly (pre-filter loses nothing but unprobed cells);
    (c) at the registered probe depth, recall vs the filtered ground
        truth stays above the unfiltered tier's working band; and
    (d) a query whose own label is OUTSIDE the filter still gets
        results (queries resolve against the unfiltered corpus)."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import knn
    from bigdata2016w_spark.plans.pipeline import ANN_FILTER_LABELS
    from bigdata2016w_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("label").isin(*ANN_FILTER_LABELS)
    qids = [0, 1, 2, 3, 4]
    ivf = {"coarse": "seed", "candidate_filter": pred, "keep": ("label",),
           "n_cells": 16}
    got = knn(emb, qids, 10, n_probe=4, **ivf)
    labels = {
        r.label for r in got.join(
            emb.select("vec_id", "label"), "vec_id").collect()
    }
    assert labels and labels <= set(ANN_FILTER_LABELS)

    truth = knn(emb, qids, 10, candidate_filter=pred)
    full_probe = knn(emb, qids, 10, n_probe=16, **ivf)
    assert sorted(map(tuple, full_probe.collect())) == \
        sorted(map(tuple, truth.collect()))

    t = {(r.query_id, r.vec_id) for r in truth.collect()}
    g = {(r.query_id, r.vec_id) for r in got.collect()}
    assert len(g & t) / len(t) >= 0.5

    # query 0's own label may or may not be in the filter — force the
    # out-of-filter case explicitly
    q0_label = emb.where(F.col("vec_id") == 0).collect()[0].label
    out = [lab for lab in range(10)
           if lab != q0_label][:2]
    res = knn(emb, [0], 5, coarse="seed",
              candidate_filter=F.col("label").isin(*out), keep=("label",),
              n_cells=16, n_probe=16).collect()
    assert len(res) == 5


def test_ann_ivfpq_filtered_serve_matches_oracle(spark, duck, sf_dir):
    s = all_specs()["ann_ivfpq_filtered_serve"]
    compare_spark_duckdb(s.fn(spark, sf_dir), duck, s.oracle)


def test_filtered_serve_parity_and_pruning(spark, sf_dir, tmp_path):
    """The filtered serve path must (a) equal the UNfiltered serve
    path's results re-ranked under a post-hoc exact filter ONLY when
    that post-filter loses nothing — so instead pin the real contract:
    filtered-serve == in-plan ADC ranking restricted to the predicate
    (pre-filter), (b) keep the codes scan statically partition-pruned
    with the sidecar semi-join present, and (c) raise on the
    include_streamed combination (silent exclusion trap)."""
    import contextlib
    import io
    import re

    import pytest as _pytest
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.plans.pipeline import ANN_FILTER_LABELS
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "fidx")
    write_ivfpq_index(emb.where(F.col("vec_id") < 256), path,
                      meta_cols=("label",))
    queries = emb.where(emb.vec_id.isin([0, 1, 2]))
    pred = F.col("label").isin(*ANN_FILTER_LABELS)
    got = knn_from_index(spark, path, queries, k=5, n_probe=4,
                         candidate_filter=pred)

    # (a) parity vs the unfiltered ADC ranking with the same predicate
    # applied to the FULL candidate list before top-k: take a huge k on
    # the unfiltered path (no truncation), filter, re-rank, cut to 5
    full = knn_from_index(spark, path, queries, k=10_000, n_probe=4)
    lab = emb.select("vec_id", "label")
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("vec_id"))
    want = (
        full.join(lab, "vec_id").where(pred)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("query_id", "vec_id", "adc_d2")
    )
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    # (b) plan shape: static cell pruning survives the sidecar semi-join
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(
        r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan)) >= 2, plan[:3000]
    assert "LeftSemi" in plan

    # (c) the unsupported combination raises
    with _pytest.raises(ValueError, match="include_streamed"):
        knn_from_index(spark, path, queries, k=5,
                       candidate_filter=pred, include_streamed=True)


def test_filtered_rerank_from_index(spark, sf_dir, tmp_path):
    """candidate_filter threads through the two-stage serve path: the
    exact rerank sees only predicate-satisfying shortlist rows, so
    every returned row satisfies the predicate and equals the exact
    cosine rerank computed over the filtered stage-1 shortlist."""
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import (
        cosine,
        knn_from_index,
    )
    from bigdata2016w_spark.operators.topk import topk_per_group
    from bigdata2016w_spark.plans.pipeline import ANN_FILTER_LABELS
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "fridx")
    write_ivfpq_index(emb.where(F.col("vec_id") < 256), path,
                      meta_cols=("label",))
    queries = emb.where(emb.vec_id.isin([0, 1]))
    pred = F.col("label").isin(*ANN_FILTER_LABELS)
    got = knn_from_index(
        spark, path, queries, k=5, n_probe=4, rerank=3, embeddings=emb,
        candidate_filter=pred,
    )
    lab = {r.vec_id: r.label for r in
           emb.select("vec_id", "label").collect()}
    rows = got.collect()
    assert rows and all(lab[r.vec_id] in ANN_FILTER_LABELS for r in rows)
    # replicate: filtered stage-1 shortlist -> exact cosine -> top-5
    short = knn_from_index(
        spark, path, queries, k=15, n_probe=4, candidate_filter=pred,
    ).select("query_id", "vec_id")
    e = emb.select("vec_id", "embedding")
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe"))
    rer = (
        e.join(short, "vec_id").join(q, "query_id")
        .select("query_id", "vec_id",
                cosine(F.col("qe"), F.col("embedding")).alias("cosine"))
    )
    want = topk_per_group(
        rer, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], 5
    ).select("query_id", "vec_id", "cosine").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))


def test_sidecar_lockstep_guards(spark, sf_dir, tmp_path):
    """The three silent-exclusion traps around the metadata sidecar:
    (a) ivfpq_index_append on a sidecar'd index appends matching meta
        rows (appended vectors stay visible to filtered search) and
        raises if the appended frame lacks the sidecar columns;
    (b) compacting streamed (sidecar-less) codes into a sidecar'd
        index raises instead of making those rows invisible;
    (c) rewriting an index WITHOUT meta_cols removes the stale sidecar."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from bigdata2016w_spark.operators.similarity import knn_from_index
    from bigdata2016w_spark.plans.pipeline import ANN_FILTER_LABELS
    from bigdata2016w_spark.sources.catalog import load_table
    from bigdata2016w_spark.sources.sinks import (
        index_meta_cols,
        ivfpq_index_append,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "sidx")
    write_ivfpq_index(emb.where(F.col("vec_id") < 200), path,
                      meta_cols=("label",))
    assert index_meta_cols(spark, path) == ("label",)

    # (a) append WITH the meta column: the new vectors are reachable
    # through the filtered probe
    batch = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 260))
    ivfpq_index_append(spark, path, batch)
    pred = F.col("label").isin(*ANN_FILTER_LABELS)
    queries = emb.where(emb.vec_id.isin([0, 1, 2]))
    got = knn_from_index(spark, path, queries, k=300, n_probe=16,
                         candidate_filter=pred)
    appended_match = {
        r.vec_id for r in batch.where(pred).select("vec_id").collect()
    }
    assert appended_match & {r.vec_id for r in got.collect()}
    # append WITHOUT the meta column raises
    with _pytest.raises(ValueError, match="sidecar"):
        ivfpq_index_append(
            spark, path,
            emb.where(F.col("vec_id") >= 260).select("vec_id", "embedding"),
        )

    # (b) streamed-fold into a sidecar'd index raises
    import os
    import shutil
    from pathlib import Path

    from bigdata2016w_spark.streaming.index_sink import (
        ivfpq_append_sink,
        ivfpq_index_compact,
    )

    sdir = tmp_path / "in"
    sdir.mkdir()
    w = tmp_path / "w0"
    emb.where(F.col("vec_id") >= 300).select("vec_id", "embedding") \
        .coalesce(1).write.parquet(str(w))
    shutil.copy(next(w.rglob("part-*.parquet")), sdir / "0.parquet")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(str(sdir))
    )
    ivfpq_append_sink(stream, path, str(tmp_path / "ckpt")) \
        .awaitTermination()
    with _pytest.raises(ValueError, match="sidecar"):
        ivfpq_index_compact(spark, path)

    # (c) a meta-less rewrite removes the stale sidecar
    path2 = str(tmp_path / "sidx2")
    write_ivfpq_index(emb.where(F.col("vec_id") < 100), path2,
                      meta_cols=("label",))
    assert index_meta_cols(spark, path2) == ("label",)
    write_ivfpq_index(emb.where(F.col("vec_id") < 100), path2)
    assert index_meta_cols(spark, path2) == ()


# ------------------------------------------------- leakage-safe split

def test_leakage_safe_split_matches_oracle(spark, sf_dir, duck):
    spec = all_specs()["documents_leakage_safe_split"]
    compare_spark_duckdb(spec.fn(spark, sf_dir), duck, spec.oracle)


def test_leakage_safe_split_invariants(spark, sf_dir):
    """The property the split exists for: a near-dup cluster NEVER
    straddles train/test; every doc is assigned exactly once; both
    splits are non-empty at this SF."""
    from collections import defaultdict

    from bigdata2016w_spark.plans.pipeline import (
        documents_leakage_safe_split,
    )

    from bigdata2016w_spark.sources.catalog import load_table

    rows = documents_leakage_safe_split(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs == len({r.doc_id for r in rows})
    by_cluster = defaultdict(set)
    for r in rows:
        by_cluster[r.cluster_rep].add(r.split)
    assert all(len(v) == 1 for v in by_cluster.values())
    splits = {r.split for r in rows}
    assert splits == {"train", "test"}


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """Crafted corpus: two near-duplicate docs whose doc_ids would hash
    to OPPOSITE splits if split doc-wise — cluster-keyed splitting must
    put them on the same side (the leakage the operator prevents)."""
    import tempfile

    from bigdata2016w_spark.plans.pipeline import (
        documents_leakage_safe_split,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the quiet green forest tonight")
    # find two ids whose doc-wise buckets differ (one test, one train)
    import hashlib

    def bucket(i):
        h = int(hashlib.md5(f"SPLIT:{i}".encode()).hexdigest()[:15], 16)
        return h % 10

    a = next(i for i in range(100) if bucket(i) in (8, 9))
    b = next(i for i in range(100) if bucket(i) not in (8, 9))
    rows = [
        (a, base, "en", "s", len(base)),
        (b, base + " extra", "en", "s", len(base) + 6),
        (50 + max(a, b), "completely different unrelated text about "
         "spark catalyst optimizer internals and shuffle hash joins",
         "en", "s", 90),
    ]
    tmp = tempfile.mkdtemp(prefix="bigdata2016w_split_test_")
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    try:
        got = {r.doc_id: r.split
               for r in documents_leakage_safe_split(spark, tmp).collect()}
        assert got[a] == got[b]  # the pair lands together...
        # ...on the side keyed by the cluster rep min(a, b)
        want = "test" if bucket(min(a, b)) in (8, 9) else "train"
        assert got[a] == want
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
