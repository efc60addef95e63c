"""Deduplication operators — LLM-training-pipeline extension (SURVEY §7.1
step 8; no reference counterpart — the reference's only set-dedup is the
per-line HashSet in ``JAVA/assignment1/PairsPMI.java:56-66``).

Four tiers, all DataFrame-native and shuffle-scalable:

- exact: hash-groupBy on normalized text — one shuffle, no driver state;
- n-gram Jaccard: *exact* near-dup semantics (all pairs with shingle-set
  Jaccard ≥ t), computed with AllPairs/PPJoin-style prefix filtering
  (Bayardo et al., WWW'07): shingles are canonically ordered
  rarest-first; a doc of n shingles indexes only its first
  n − ⌈t·n⌉ + 1 (any pair with J ≥ t shares ≥ ⌈t·n⌉ shingles, so their
  prefixes must collide — lossless). Candidates come from an equi-join
  on prefix shingles; full arrays are shuffled ONLY for surviving
  candidate pairs, keeping the heavy payload linear in matches, not in
  corpus²;
- MinHash + LSH banding: the approximate scale path for unbounded corpora —
  P xxhash64 min-hash aggregates per doc, banded signatures, equi-join on
  (band, band_hash), then exact-Jaccard verification of candidates only;
- SimHash: 64-bit signatures, 16-bit chunk blocking (pigeonhole: hamming
  ≤ 3 ⇒ ≥ 1 of 4 chunks equal), verify with ``bit_count(xor)``.

Everything is deterministic — results are stable across runs and
partitionings. Two hash families:

- ``xxhash64`` (default): one JVM pass, the scale path;
- ``portable=True``: a 60-bit md5-hex family with a bit-identical ANSI-SQL
  twin (``('0x' || substr(md5(seed || ':' || s), 1, 15))::BIGINT``), so
  LSH results can be verified end-to-end by a DuckDB oracle — the
  registered queries use it; the signature/banding/verify plan shape is
  identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata2016w_spark.functions.tokenizer import tokenize


def portable_hash60(col, seed) -> F.Column:
    """60-bit seeded hash whose value is reproducible in ANSI SQL.

    Spark ``conv(substring(md5(concat(seed, ':', s)), 1, 15), 16, 10)``
    equals DuckDB ``('0x' || substr(md5(seed || ':' || s), 1, 15))::BIGINT``
    bit-for-bit (verified). 15 hex digits < 2^60 always fits a signed
    64-bit long. Slower than one-pass xxhash64 (md5 + hex round-trip), so
    it is the *verification* family; operators default to xxhash64.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(keep_id, n_docs) per distinct text: survivor = min doc_id."""
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
        .select("keep_id", "n_docs")
    )


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_tokens, shingles): distinct word n-gram shingles.

    Repartitions first: shingling is the most expression-heavy per-row
    transform in the engine, and document files are often few/unsplittable
    (single row group) — without the reshuffle the whole corpus tokenizes
    in one task regardless of cluster size.
    """
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.select("doc_id", tokenize("text").alias("t")).where(F.size("t") >= n)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("t", i + j) for j in range(n)]
            ),
        )
    )
    return toks.select("doc_id", F.size("t").alias("n_tokens"),
                       shingles.alias("shingles"))


def _jaccard(sa, sb):
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(sa) + F.size(sb) - inter
    return inter.cast("double") / union.cast("double")


def _rarest_first_canon(ex: DataFrame, par: int) -> DataFrame:
    """Canonical rarest-first shingle order per doc from exploded
    (doc_id, sh) rows: sort (cf, sh) structs. The shingle frequency
    comes from an unordered count window over sh — one exchange of ex
    total, vs two + a join for the groupBy(sh)+join formulation (A/B:
    1.08 s → 0.30 s at sf0.1; same skew exposure, both hash-distribute
    by sh). The explicit repartition keeps the array rebuild parallel
    (AQE would coalesce this small-bytes/high-CPU shuffle to one
    partition). Eagerly checkpointed: every consumer reads it at least
    twice (prefix index + verify sides)."""
    return (
        ex.withColumn("cf", F.count("*").over(Window.partitionBy("sh")))
        .repartition(par, "doc_id")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("cf", "sh"))).alias("cs"))
        .select("doc_id", F.col("cs.sh").alias("shingles"))
        .localCheckpoint(eager=True)
    )


def jaccard_near_dupes(
    docs: DataFrame,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Exact near-dup pairs: shingle-set Jaccard ≥ threshold.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. Prefix filtering
    (see module doc) is lossless, so the result equals the all-pairs join
    and the oracle can be plain O(n²) SQL.

    ``shingled``: optionally pass an already-materialized
    ``shingle_sets`` output (the "shingle table written once" pattern a
    suite of dedup jobs shares at cluster scale) to skip re-shingling.

    ``metrics``: optionally pass a dict; it is populated with
    ``Observation`` objects (keys ``shingle_rows``, ``candidates``,
    ``verified``) whose ``.get`` reads the pipeline's cost breakdown —
    prefix-index size, post-filter candidate pairs, surviving pairs —
    after the consuming action, so PPJoin skew growth is visible in the
    bench/smoke without a profiler (the counters a shuffle-service
    dashboard would chart at cluster scale).
    """
    from pyspark.sql import Observation
    # materialize the (expensive) shingling once — it feeds the frequency
    # count, the prefix index, and both sides of the verify join
    s = (shingled if shingled is not None
         else shingle_sets(docs).localCheckpoint(eager=True))
    par = docs.sparkSession.sparkContext.defaultParallelism
    ex = s.select("doc_id", F.explode("shingles").alias("sh"))
    if metrics is not None:
        # ex feeds only the (eagerly checkpointed) canon build, so the
        # observation fires exactly once, at checkpoint time
        metrics["shingle_rows"] = Observation("ppjoin_shingle_rows")
        ex = ex.observe(metrics["shingle_rows"],
                        F.count(F.lit(1)).alias("n"))
    canon = _rarest_first_canon(ex, par)
    prefix_len = (
        F.size("shingles")
        - F.ceil(F.size("shingles") * F.lit(float(threshold))).cast("int")
        + 1
    )
    pref = canon.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode(F.slice("shingles", 1, prefix_len)).alias("sh"),
    )
    # Spread the verify join: the candidate table is tiny in bytes, so AQE
    # coalesces it to a few partitions, but each row costs an
    # array_intersect over full shingle arrays (high CPU/byte). The
    # explicit repartition keeps the verify parallel — measured 5.0 s →
    # 1.7 s at sf0.1 (409k candidates) on local[32]. The AllPairs length
    # filter (J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t) is lossless and prunes ~24%
    # of candidates before they reach the verify. The PPJoin positional
    # filter is not applied, and it would cut far more: replaying it over
    # these candidates left 119,907 of 309,803 at sf0.1 and 27 of 772 at
    # sf0.01 (rarest-first order).
    cand = (
        pref.alias("x")
        .join(pref.alias("y"), "sh")
        .where(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.n") >= threshold * F.col("y.n"))
            & (F.col("y.n") >= threshold * F.col("x.n"))
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        .repartition(par, "doc_a")
    )
    if metrics is not None:
        metrics["candidates"] = Observation("ppjoin_candidates")
        cand = cand.observe(metrics["candidates"],
                            F.count(F.lit(1)).alias("n"))
    sh = canon
    out = (
        cand.join(sh.withColumnsRenamed({"doc_id": "doc_a", "shingles": "sh_a"}),
                  "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "shingles": "sh_b"}),
              "doc_b")
        .select("doc_a", "doc_b",
                _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    if metrics is not None:
        metrics["verified"] = Observation("ppjoin_verified")
        out = out.observe(metrics["verified"], F.count(F.lit(1)).alias("n"))
    return out


# universal-hash family over a 31-bit prime for the portable MinHash:
# h_p(s) = (a_p·(base(s) mod P) + b_p) mod P with base = portable_hash60.
# One md5 per shingle (not one per permutation); a_p·x < 2^62 never
# overflows BIGINT in either engine. Constants are fixed Weyl/Knuth
# multiples so the SQL twin embeds the same literals.
MH_PRIME = 2_147_483_647  # 2^31 − 1


def mh_affine(p: int) -> tuple[int, int]:
    a = (2_654_435_761 * (p + 1)) % MH_PRIME
    b = (40_503 * p + 17) % MH_PRIME
    return (a or 1), b


def minhash_signatures(
    shingled: DataFrame, num_perm: int = 16, portable: bool = False
) -> DataFrame:
    """(doc_id, mh_0..mh_{P-1}): per-doc min of seeded hash per perm.

    One explode + P min-aggregates — partial (map-side) aggregation means
    the shuffle carries one P-wide row per (partition, doc), not per
    shingle. The explicit repartition keeps the hash computation parallel
    when AQE would coalesce the small-bytes shuffle. ``portable`` swaps
    seeded xxhash64 for the SQL-reproducible md5-seeded affine family
    (one md5 + P multiply-mods per shingle; see :data:`MH_PRIME`).
    """
    par = shingled.sparkSession.sparkContext.defaultParallelism
    exploded = shingled.select("doc_id", F.explode("shingles").alias("sh"))

    if portable:
        exploded = exploded.select(
            "doc_id",
            (portable_hash60(F.col("sh"), "mh") % MH_PRIME).alias("hb"),
        )

        def h(p):
            a, b = mh_affine(p)
            return (F.lit(a) * F.col("hb") + F.lit(b)) % MH_PRIME
    else:

        def h(p):
            return F.xxhash64(F.lit(p), F.col("sh"))

    return (
        exploded.repartition(par, "doc_id")
        .groupBy("doc_id")
        .agg(*[F.min(h(p)).alias(f"mh_{p}") for p in range(num_perm)])
    )


def minhash_lsh_near_dupes(
    docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingled: DataFrame | None = None,
    portable: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash banding, then exact-Jaccard
    verification of candidates. Same output schema as jaccard_near_dupes —
    a subset of it with high probability (LSH recall). ``shingled``: see
    :func:`jaccard_near_dupes`. ``portable``: use the SQL-reproducible
    md5 hash family and a decimal-string band key so a DuckDB oracle can
    recompute the exact pair set (band key equality ⇔ signature-slice
    equality either way; plan shape is identical). ``metrics``: optional
    dict, populated with a ``candidates`` Observation (distinct banded
    candidate pairs reaching verification — the scale-smoke counter)."""
    rows = num_perm // bands
    # materialize shingling once: it feeds signatures and both verify sides
    s = (shingled if shingled is not None
         else shingle_sets(docs).localCheckpoint(eager=True))
    sig = minhash_signatures(s, num_perm, portable=portable)

    def band_key(bi):
        cols = [F.col(f"mh_{bi * rows + r}") for r in range(rows)]
        if portable:
            return F.concat_ws(",", *cols)
        return F.xxhash64(*cols)

    band_rows = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"), band_key(bi).alias("bh")
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")
    # same verify-spread as jaccard_near_dupes: candidates are small in
    # bytes but CPU-heavy to verify; don't let AQE serialize them
    cand = (
        band_rows.alias("x")
        .join(band_rows.alias("y"), ["band", "bh"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        .repartition(s.sparkSession.sparkContext.defaultParallelism, "doc_a")
    )
    if metrics is not None:
        from pyspark.sql import Observation

        metrics["candidates"] = Observation("lsh_candidates")
        cand = cand.observe(metrics["candidates"],
                            F.count(F.lit(1)).alias("n"))
    sh = s.select("doc_id", "shingles")
    return (
        cand.join(sh.withColumnsRenamed({"doc_id": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "shingles": "sh_b"}), "doc_b")
        .select("doc_a", "doc_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(docs: DataFrame, portable: bool = False) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash over token xxhash64 bit votes
    (60-bit over :func:`portable_hash60` votes when ``portable``).

    One exchange total: the explicit repartition hash-distributes docs by
    doc_id, so the explode → groupBy(doc_id) vote aggregation reuses that
    partitioning (no token-level shuffle; Catalyst plans no extra
    Exchange) and partial aggregation folds votes map-side. Measured
    faster than a shuffle-free per-row higher-order-function fold, which
    leaves whole-stage codegen (interpreted lambda per token per bit)."""
    nbits = 60 if portable else 64
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("w"))
    # r12: the per-bit expressions are built as SQL strings (ONE parse
    # each) instead of ~8 Py4J column calls per bit — the 60-bit chain
    # cost ~2 s of driver-side socket round-trips per plan build.
    # Identical expression trees, so values are unchanged.
    h_sql = (
        "CAST(conv(substring(md5(concat('sim:', w)), 1, 15), 16, 10)"
        " AS BIGINT)"
        if portable else "xxhash64(w)"
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum((shiftright({h_sql}, {i}) & 1) * 2 - 1) AS v{i}"
            )
            for i in range(nbits)
        ]
    )
    sim_sql = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(nbits)
    )
    return votes.select("doc_id", F.expr(f"({sim_sql}) AS simhash"))


def simhash_near_dupes(
    docs: DataFrame, max_hamming: int = 3, portable: bool = False
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with hamming(simhash) ≤ k (k < 4).

    Blocking on 16-bit chunks (15-bit when ``portable`` — 60-bit
    signatures): hamming ≤ 3 over 4 chunks forces ≥ 1 equal chunk, so
    candidates come from 4 equi-joins, not a cross product.
    """
    chunk_bits = 15 if portable else 16
    mask = (1 << chunk_bits) - 1
    sig = simhash_signatures(docs, portable=portable)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", chunk_bits * c)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.chunk", "b.cv")
    return (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "cv"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def jaccard_cross_near_dupes(
    index_docs: DataFrame,
    probe_docs: DataFrame,
    threshold: float = 0.5,
    metrics: dict | None = None,
) -> DataFrame:
    """Cross-corpus PPJoin: exact Jaccard near-dup pairs between a probe
    shard and an indexed reference corpus — the incremental-dedup shape
    (dedup today's crawl against everything already accepted) where
    intra-side pairs must never join.

    Same lossless rarest-first prefix filter as :func:`jaccard_near_dupes`,
    but the candidate join is probe-prefix ⋈ index-prefix only, so work
    is O(cross candidates), independent of either side's intra-corpus
    duplication. The canonical shingle order the prefix filter requires
    on BOTH sides comes from the union's frequencies (one count window);
    in production the index side's frequencies ship with its prefix
    index and the probe re-sorts by them. Returns
    (probe_id, index_id, jaccard).
    """
    par = probe_docs.sparkSession.sparkContext.defaultParallelism
    s = (
        shingle_sets(index_docs).select(
            "doc_id", "shingles", F.lit("i").alias("side"))
        .unionByName(
            shingle_sets(probe_docs).select(
                "doc_id", "shingles", F.lit("p").alias("side")))
    )
    ex = s.select("side", "doc_id", F.explode("shingles").alias("sh"))
    canon = (
        ex.withColumn("cf", F.count("*").over(Window.partitionBy("sh")))
        .repartition(par, "doc_id")
        .groupBy("side", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("cf", "sh"))).alias("cs"))
        .select("side", "doc_id", F.col("cs.sh").alias("shingles"))
        .localCheckpoint(eager=True)
    )
    prefix_len = (
        F.size("shingles")
        - F.ceil(F.size("shingles") * F.lit(float(threshold))).cast("int")
        + 1
    )
    pref = canon.select(
        "side", "doc_id",
        F.size("shingles").alias("n"),
        F.explode(F.slice("shingles", 1, prefix_len)).alias("sh"),
    )
    cand = (
        pref.where(F.col("side") == "p").alias("x")
        .join(pref.where(F.col("side") == "i").alias("y"), "sh")
        .where(
            (F.col("x.n") >= threshold * F.col("y.n"))
            & (F.col("y.n") >= threshold * F.col("x.n"))
        )
        .select(F.col("x.doc_id").alias("probe_id"),
                F.col("y.doc_id").alias("index_id"))
        .distinct()
        .repartition(par, "probe_id")
    )
    if metrics is not None:
        from pyspark.sql import Observation

        metrics["candidates"] = Observation("cross_ppjoin_candidates")
        cand = cand.observe(metrics["candidates"],
                            F.count(F.lit(1)).alias("n"))
    sp = canon.where(F.col("side") == "p").select(
        F.col("doc_id").alias("probe_id"), F.col("shingles").alias("sh_p"))
    si = canon.where(F.col("side") == "i").select(
        F.col("doc_id").alias("index_id"), F.col("shingles").alias("sh_i"))
    return (
        cand.join(sp, "probe_id")
        .join(si, "index_id")
        .select("probe_id", "index_id",
                _jaccard(F.col("sh_p"), F.col("sh_i")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def containment_near_dupes(
    docs: DataFrame,
    threshold: float = 0.9,
    shingled: DataFrame | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Asymmetric containment dedup: ordered pairs
    (doc_contained, doc_container, containment) with
    ``|S(contained) ∩ S(container)| / |S(contained)| ≥ threshold`` —
    catches superset duplication (a short doc quoted whole inside a long
    one) that symmetric Jaccard misses: a 50-shingle doc fully inside a
    1000-shingle doc has Jaccard ≈ 0.05 but containment 1.0.

    Blocking is the containment adaptation of the PPJoin prefix filter:
    if the contained doc shares ≥ ⌈t·|A|⌉ shingles, its first
    |A| − ⌈t·|A|⌉ + 1 rarest shingles must hit (pigeonhole under any
    global order — lossless), so only the CONTAINED side is prefix-
    pruned; the container side is the full inverted index (its matching
    shingle can be anywhere). Rarest-first ordering keeps the probe on
    low-frequency postings. The only unprunable cost is the inverted
    index itself — the same exploded table every other dedup tier
    already builds. Verification touches candidates only.
    """
    s = (shingled if shingled is not None
         else shingle_sets(docs).localCheckpoint(eager=True))
    par = docs.sparkSession.sparkContext.defaultParallelism
    ex = s.select("doc_id", F.explode("shingles").alias("sh"))
    canon = _rarest_first_canon(ex, par)
    prefix_len = (
        F.size("shingles")
        - F.ceil(F.size("shingles") * F.lit(float(threshold))).cast("int")
        + 1
    )
    pref = canon.select(
        F.col("doc_id").alias("doc_contained"),
        F.size("shingles").alias("n_small"),
        F.explode(F.slice("shingles", 1, prefix_len)).alias("sh"),
    )
    index = canon.select(
        F.col("doc_id").alias("doc_container"),
        F.size("shingles").alias("n_big"),
        F.explode("shingles").alias("sh"),
    )
    cand = (
        pref.join(index, "sh")
        .where(
            (F.col("doc_contained") != F.col("doc_container"))
            # containment ≥ t ⇒ |A∩B| ≥ t·|A| and |A∩B| ≤ |B|
            & (F.col("n_big") >= threshold * F.col("n_small"))
        )
        .select("doc_contained", "doc_container")
        .distinct()
        .repartition(par, "doc_contained")
    )
    if metrics is not None:
        from pyspark.sql import Observation

        metrics["candidates"] = Observation("containment_candidates")
        cand = cand.observe(metrics["candidates"],
                            F.count(F.lit(1)).alias("n"))
    sa = canon.withColumnsRenamed(
        {"doc_id": "doc_contained", "shingles": "sh_a"})
    sb = canon.withColumnsRenamed(
        {"doc_id": "doc_container", "shingles": "sh_b"})
    return (
        cand.join(sa, "doc_contained")
        .join(sb, "doc_container")
        .select(
            "doc_contained", "doc_container",
            (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
             / F.size("sh_a").cast("double")).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .select("doc_contained", "doc_container", "containment")
    )
