"""Similarity search over embedding columns — pipeline extension.

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
set, one pass over the corpus, per-query window top-k — no shuffle of the
corpus itself beyond the final top-k, so it scales to arbitrarily large
embedding tables (cost is a scan, the classic exact-kNN lower bound).

The scale path is random-hyperplane LSH: 64-dim sign-bucket signatures
computed JVM-side from fixed literal hyperplanes (seeded NumPy, baked at
plan-build time — deterministic across runs); search compares only
same-bucket (or ≤1-bit-distant bucket) candidates.

All arithmetic is float→double promoted, left-fold summed, so results are
bit-identical to a DuckDB oracle using the same fold order.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from bigdata2016w_spark.operators.np_kernels import (
    assign_encode_fn as np_assign_encode_fn,
)
from bigdata2016w_spark.operators.np_kernels import (
    encode_pq_fn as np_encode_pq_fn,
)
from bigdata2016w_spark.operators.np_kernels import (
    pair_cosine_fn as np_pair_cosine_fn,
)
from bigdata2016w_spark.operators.topk import topk_per_group
from bigdata2016w_spark.shared import shared

LSH_SEED = 42
# 4 planes = 16 buckets; with 1-bit multiprobe a query scans ~5/16 of the
# corpus. The testdata embeddings are near-isotropic (max cosine ~0.5), the
# hardest case for sign-LSH — on genuinely clustered production embeddings
# raise the plane count and probe radius together to cut the scan fraction
# while holding recall.
LSH_PLANES = 4


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Left-fold Σ a[i]·b[i] in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return dot(ad, bd) / (F.sqrt(dot(ad, ad)) * F.sqrt(dot(bd, bd)))


def norm(a) -> Column:
    """√(a·a) in double — precompute once per vector so pairwise cosine
    folds only the cross dot product (same bits: identical fold + same
    division expression, just evaluated from a stored column)."""
    ad = _as_double(a)
    return F.sqrt(dot(ad, ad))


def cosine_with_norms(a, na, b, nb) -> Column:
    return dot(_as_double(a), _as_double(b)) / (na * nb)


def knn_bruteforce(
    embeddings: DataFrame, query_ids: list[int], k: int = 10,
    candidate_filter=None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Returns (query_id, vec_id, cosine), k rows per query, self excluded;
    ties broken by vec_id so selection is deterministic.
    ``candidate_filter`` (optional Column predicate over the metadata
    columns) restricts the CANDIDATE side before ranking; queries
    resolve against the unfiltered corpus.

    r12: the per-pair cosine runs in the Arrow/NumPy pair kernel (guide
    §4.2) instead of interpreted HOF folds — same bits (the kernel's
    3-dot cosine equals the previous precomputed-norm form: identical
    left-fold values, identical division), NULL embeddings still yield
    NULL cosines that sort last.
    """
    q = embeddings.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    cand = (embeddings if candidate_filter is None
            else embeddings.where(candidate_filter))
    joined = (
        broadcast(q)
        .crossJoin(cand)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q_emb", "embedding")
    )
    schema = T.StructType(
        [joined.schema[c] for c in ("query_id", "vec_id")]
        + [T.StructField("cosine", T.DoubleType())]
    )
    pairs = joined.mapInPandas(
        np_pair_cosine_fn("q_emb", "embedding", ["query_id", "vec_id"]),
        schema,
    )
    return topk_per_group(
        pairs, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "cosine")


def hard_negatives(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-cosine-similar vectors with a DIFFERENT label — the
    negatives most likely to confuse a classifier.

    Same scan shape as :func:`knn_bruteforce` (broadcast anchors, one
    corpus pass, two-stage top-k; the corpus never shuffles), plus the
    label-inequality predicate evaluated in the scan. Returns
    (query_id, anchor_label, vec_id, neg_label, cosine).
    """
    q = embeddings.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
    )
    joined = (
        broadcast(q)
        .crossJoin(embeddings)
        .where(F.col("label") != F.col("anchor_label"))
        .select(
            "query_id", "anchor_label", "vec_id",
            F.col("label").alias("neg_label"), "q_emb", "embedding",
        )
    )
    keep = ["query_id", "anchor_label", "vec_id", "neg_label"]
    schema = T.StructType(
        [joined.schema[c] for c in keep]
        + [T.StructField("cosine", T.DoubleType())]
    )
    pairs = joined.mapInPandas(
        np_pair_cosine_fn("q_emb", "embedding", keep), schema
    )
    return topk_per_group(
        pairs, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k
    ).select("query_id", "anchor_label", "vec_id", "neg_label", "cosine")


def _planes(
    dim: int, num_planes: int = LSH_PLANES, seed: int = LSH_SEED
) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(num_planes, dim).round(6).tolist()


def lsh_bucket(col, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from fixed hyperplanes (literal arrays → the dot
    products run entirely in codegen; no UDF)."""
    vd = _as_double(col)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(dot(vd, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _lsh_bucketed(
    df: DataFrame,
    planes: list[list[float]],
    cols: list[str],
    alias: str = "bucket",
) -> DataFrame:
    """``cols`` + the sign-bit ``bucket`` column, computed by the
    Arrow/NumPy kernel (r12, guide §4.2) instead of the interpreted
    per-plane HOF dot chain of :func:`lsh_bucket` — exact replay of its
    when/otherwise semantics (NaN dot sets the bit, NULL dot does not).
    ``cols`` must include ``embedding``; the pass is map-side-only."""
    from bigdata2016w_spark.operators.np_kernels import lsh_bucket_fn

    src = df.select(*cols)
    schema = T.StructType(
        [src.schema[c] for c in cols]
        + [T.StructField(alias, T.IntegerType())]
    )
    return src.mapInPandas(lsh_bucket_fn(planes, cols, alias), schema)


def knn_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    num_planes: int = LSH_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket or
    differ in exactly one sign bit (multi-probe — recall insurance against
    boundary flips), ranked by exact cosine within candidates."""
    planes = _planes(dim, num_planes)
    emb_b = _lsh_bucketed(embeddings, planes, ["vec_id", "embedding"])
    q = emb_b.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(num_planes)
                ],
            )
        ).alias("bucket"),
    )
    joined = (
        broadcast(q)
        .join(emb_b, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q_emb", "embedding")
    )
    schema = T.StructType(
        [joined.schema[c] for c in ("query_id", "vec_id")]
        + [T.StructField("cosine", T.DoubleType())]
    )
    pairs = joined.mapInPandas(
        np_pair_cosine_fn("q_emb", "embedding", ["query_id", "vec_id"]),
        schema,
    ).distinct()
    return topk_per_group(
        pairs, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "cosine")


def knn_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = LSH_SEED,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: a KMeans coarse quantizer
    assigns every vector to a cell; each query scans only its ``n_probe``
    nearest cells, ranked by exact cosine.

    The scale path for clustered embedding tables: scan fraction ≈
    n_probe/n_cells. Deterministic given the seed. The cell table is the
    'inverted file' — at 100 TB it would be written bucketed by cell so a
    probe reads only its buckets.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings would abort the KMeans fit (same contract as the
    # closed-form quantizers: _seed_centroid_literals filters them there)
    embeddings = embeddings.where(F.col("embedding").isNotNull())
    feat = embeddings.select(
        "vec_id",
        "embedding",
        array_to_vector(_as_double(F.col("embedding"))).alias("f"),
    ).cache()  # KMeans iterates; uncached it re-scans parquet per iteration
    # random init: a coarse quantizer needs spread, not kmeans||'s extra
    # O(iterations) init jobs — measured 6.2 s → 1.5 s on the fit with
    # recall unchanged (gated by test_ann_ivf_recall)
    model = KMeans(
        k=n_cells, seed=seed, maxIter=10, initMode="random",
        featuresCol="f", predictionCol="cell",
    ).fit(feat)
    assigned = (
        model.transform(feat)
        .select("vec_id", "embedding", "cell")
        .localCheckpoint(eager=True)  # consumed twice (probe + scan join)
    )
    feat.unpersist()

    # centroid table: n_cells rows, broadcast everywhere
    spark = embeddings.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return _ivf_probe_search(assigned, cent, query_ids, k, n_probe)


def _probe_candidates(
    assigned: DataFrame,
    cent: DataFrame,
    query_ids: list[int],
    n_probe: int,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, pr, cosine): the shared IVF probe pipeline —
    rank centroids per query by exact cosine, keep the best ``n_probe``
    cells WITH their probe rank, join candidates inside probed cells.
    Query and probe tables are broadcast; the assigned corpus is only
    ever the build (non-shuffled) side of the cell equi-join. ``pr`` is
    unique per (query, candidate) because a vector lives in exactly one
    cell — the property the probe sweep's threshold slicing relies on.
    ``corpus`` (default: ``assigned`` itself) is the candidate side of
    the join — the filtered-search tier passes a predicate-restricted
    view of ``assigned`` here while queries still resolve against the
    UNfiltered frame (a query need not satisfy its own filter)."""
    if corpus is None:
        corpus = assigned
    q = assigned.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_cos"), F.asc("cell")
    )
    probes = (
        broadcast(q)
        .crossJoin(broadcast(cent))
        .select(
            "query_id", "q_emb", "cell",
            cosine(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "q_emb", "cell", "pr")
    )
    pairs = (
        broadcast(probes)
        .join(corpus, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "pr", "q_emb", "embedding")
    )
    # candidate ranking cosine via the Arrow/NumPy pair kernel (r12,
    # guide §4.2) instead of the interpreted 3-fold HOF cosine — same
    # bits (left-fold dots, IEEE sqrt/div), NULL-poisoned pairs stay
    # NULL; still evaluated map-side right after the broadcast join
    schema = T.StructType(
        [pairs.schema[c] for c in ("query_id", "vec_id", "pr")]
        + [T.StructField("cosine", T.DoubleType())]
    )
    return pairs.mapInPandas(
        np_pair_cosine_fn("q_emb", "embedding", ["query_id", "vec_id", "pr"]),
        schema,
    )


def _ivf_probe_search(
    assigned: DataFrame,
    cent: DataFrame,
    query_ids: list[int],
    k: int,
    n_probe: int,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Shared IVF search half (knn_ivf, knn_ivf_flat, knn_ivf_filtered):
    probe the best ``n_probe`` cells (:func:`_probe_candidates`),
    two-stage top-k over the candidates. ``corpus`` is the (possibly
    predicate-restricted) candidate side; queries always come from the
    unfiltered ``assigned``."""
    pairs = (
        _probe_candidates(assigned, cent, query_ids, n_probe,
                          corpus=corpus)
        .select("query_id", "vec_id", "cosine")
        .distinct()
    )
    return topk_per_group(
        pairs, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "cosine")


def knn_ivf_flat(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-Flat with a deterministic seed-centroid quantizer: the
    ``n_cells`` lowest-vec_id embeddings ARE the centroids (no training
    pass), every vector takes its max-cosine centroid's cell, queries
    probe their ``n_probe`` best cells by exact cosine.

    Cell assignment is genuinely map-side: the centroids are collected
    once at plan build (n_cells driver rows, like fetching a trained
    model) and baked into the plan as literal arrays, so assignment is a
    pure projection — an in-expression argmax over n_cells cosines with
    NO shuffle and NO row expansion of the corpus (at 100 TB the cell
    table is then written bucketed by cell so a probe reads only its
    buckets). Ties pick the lowest cell via struct-ordered
    ``array_max((cos, -cell))``, matching the oracle's
    ``ORDER BY a_cos DESC, cell ASC``. With no iterative fit the whole
    pipeline is closed-form and a DuckDB oracle replays it exactly;
    KMeans-trained :func:`knn_ivf` remains the recall-quality path.
    """
    spark = embeddings.sparkSession
    embeddings = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(embeddings, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double"
        )
    # checkpoint: the assignment kernel output feeds both the query
    # side and the candidate side of the probe join (r12)
    assigned = _assign_to_literal_centroids(
        embeddings, cent_lit
    ).localCheckpoint(eager=False)
    cent = spark.createDataFrame(cent_lit, "cell int, centroid array<double>")
    return _ivf_probe_search(assigned, cent, query_ids, k, n_probe)


def knn_bruteforce_filtered(
    embeddings: DataFrame,
    query_ids: list[int],
    candidate_filter,
    k: int = 10,
) -> DataFrame:
    """Exact FILTERED top-k: :func:`knn_bruteforce` with its candidate
    side restricted to rows satisfying ``candidate_filter``. The
    ground-truth tier for filtered vector search (the
    metadata-restricted ANN every production retrieval stack needs:
    "nearest English docs", "nearest in-tenant vectors"); the predicate
    applies BEFORE ranking, so recall@k is against the true filtered
    neighborhood, never a post-filtered shortlist that can come up
    short. One corpus pass, broadcast queries — linear."""
    return knn_bruteforce(embeddings, query_ids, k,
                          candidate_filter=candidate_filter)


def knn_ivf_filtered(
    embeddings: DataFrame,
    query_ids: list[int],
    candidate_filter,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Filtered IVF-Flat: :func:`knn_ivf_flat`'s seed-centroid index
    searched under a candidate predicate — the PRE-FILTER strategy
    (restrict the probed-cell scan, then rank), never post-filter (rank
    top-k, then drop non-matching rows and return fewer than k).

    The index is built once over the FULL corpus (centroids and cell
    assignment ignore the filter — filters vary per query, indexes
    don't), and the predicate lands on the candidate side of the
    cell-probe join: at 100 TB the cell table carries its filterable
    metadata columns (``keep``) next to the vectors, so the predicate
    pushes into the probed buckets' scan and candidate cost is
    (selectivity × probed fraction) of the corpus. Queries resolve
    against the unfiltered assignment — a query need not satisfy its
    own filter. Recall caveat shared with every IVF pre-filter: the
    probed cells are chosen by query-centroid cosine over the FULL
    index geometry, so a highly selective filter inside unprobed cells
    needs a larger ``n_probe`` (the ivf_probe_recall_sweep knob), not a
    different algorithm."""
    spark = embeddings.sparkSession
    embeddings = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(embeddings, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double"
        )
    # checkpoint: queries resolve against the unfiltered assignment and
    # candidates against the filtered view — one kernel pass, not two
    assigned = _assign_to_literal_centroids(
        embeddings, cent_lit, keep=keep
    ).localCheckpoint(eager=False)
    cent = spark.createDataFrame(cent_lit, "cell int, centroid array<double>")
    return _ivf_probe_search(assigned, cent, query_ids, k, n_probe,
                             corpus=assigned.where(candidate_filter))


def _assign_to_literal_centroids(
    embeddings: DataFrame,
    cent_lit: list[tuple[int, list[float]]],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Map-side max-cosine cell assignment against a broadcast centroid
    matrix — the shared quantizer half of :func:`knn_ivf_flat` and
    :func:`knn_ivf_lloyd`.

    Centroid norms are folded in Python (same left-fold double order →
    bit-identical to the oracle's sqrt(list_reduce)) and the row's own
    norm is computed once, so each row pays n_cells dot products instead
    of n_cells cosines with re-derived norms. Ties pick the lowest cell
    (the struct-ordered array_max((cos, -cell)) convention). ``keep``
    threads extra per-vector metadata columns (the filtered-search
    tier's predicate attributes) through the one corpus pass, the
    pq_encode convention.

    r12 optimization (guide §4.2): the previous zip_with/aggregate fold
    chain over a one-row broadcast centroid matrix — higher-order
    functions Catalyst interprets per element, never codegens — is
    replaced by the Arrow-batched NumPy kernel
    ``np_kernels.assign_cells_fn``, which replays the exact fold
    semantics (left-fold double dots via sequential cumsum, struct-max
    tie/NaN/NULL ordering, ANSI zero-denominator raise) vectorized.
    Measured bit-equal on every fixture SF with ~10x less executor CPU;
    the pass stays map-side-only (the model rides in the closure like
    the literal broadcast it replaces), so the scale story is unchanged.
    """
    from pyspark.sql import types as T

    from bigdata2016w_spark.operators.np_kernels import assign_cells_fn

    src = embeddings.select("vec_id", "embedding", *keep)
    schema = T.StructType(
        [src.schema[c] for c in ("vec_id", "embedding", *keep)]
        + [T.StructField("cell", T.IntegerType())]
    )
    return src.mapInPandas(assign_cells_fn(cent_lit, keep), schema)


def _lloyd_centroid_literals(
    emb: DataFrame,
    cent_lit: list[tuple[int, list[float]]],
    n_iter: int,
    dim: int,
) -> list[tuple[int, list[float]]]:
    """``n_iter`` exact-arithmetic Lloyd rounds over ``emb``, returning
    the refined centroid literals (empty cells drop out). Each round:
    map-side max-cosine assignment against the literal matrix, then ONE
    (cell, dim) hash agg whose per-dimension sums run over 2^24-quantized
    int64 components — associative, partitioning-independent and
    engine-portable (mirrors label_centroids), so the DuckDB oracles
    replay the fit as unrolled CTE rounds. n_cells × dim rows per round
    cross the driver: the model-fetch sync, same O(1)-per-round class as
    PageRank's dangling mass. Shared by :func:`knn_ivf_lloyd` (full
    corpus, caller checkpoints) and the residual-PQ coarse trainer
    (bounded sample)."""
    for _ in range(n_iter):
        assigned = _assign_to_literal_centroids(emb, cent_lit)
        # centroid recompute in the label_centroids shape: posexplode →
        # one generic (cell, dim) hash agg — a 2-column plan Catalyst
        # analyzes in O(1), where the dim-wide sum-per-column formulation
        # was a 64-expression codegen unit per round.
        q = F.round(
            F.col("x").cast("double") * CENTROID_QUANT
        ).cast("bigint")
        rows = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.sum(q).alias("s"), F.count("*").alias("n"))
            .select(
                "cell", "dim",
                F.round(
                    F.col("s").cast("double") / F.col("n") / CENTROID_QUANT, 6
                ).alias("c"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = float(r["c"])
        cent_lit = sorted(
            (cell, [vals[d] for d in range(dim)])
            for cell, vals in by_cell.items()
        )
    return cent_lit


def validated_embeddings(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """The (vec_id, embedding) corpus projection, NULL-filtered and
    length-GUARDED (``_guard_embedding_dim`` raise_error on any non-NULL
    length mismatch), materialized ONCE via localCheckpoint.

    This is the validate-once entry point the ANN tiers share (pass the
    result with ``validated=True``): the guard is a when/raise_error
    expression, and Catalyst's projection collapse happily inlines it
    into each consumer — inside the centroid-argmax fold it would be
    re-evaluated per centroid per row, and every tier re-paid it on its
    own corpus scan. Materializing the guarded projection evaluates it
    exactly once per run; downstream plans see a plain column (and read
    the corpus from checkpointed blocks instead of re-scanning parquet —
    at cluster scale this is "validate + cache the corpus once per
    pipeline run", the shared_shingle_sets pattern). A short row still
    fails loudly — at validation time, where the error belongs."""
    return (
        embeddings.where(F.col("embedding").isNotNull())
        .select("vec_id", _guard_embedding_dim(dim).alias("embedding"))
        .localCheckpoint(eager=True)
    )


def knn_ivf_lloyd(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    validated: bool = False,
) -> DataFrame:
    """IVF whose coarse quantizer is a distributed Lloyd (KMeans) fit in
    EXACT arithmetic — the DuckDB-oracle-verified twin of the MLlib-backed
    :func:`knn_ivf`, the way sgd_score_closed_form twins sgd_scores.

    Init seeds the ``n_cells`` lowest-vec_id embeddings; each round does
    (a) map-side max-cosine assignment against a literal centroid matrix
    (no corpus shuffle, no row expansion) and (b) a single hash-agg
    centroid recompute whose per-dimension sums run over 2^24-quantized
    int64 components, so the means are associative, partitioning-
    independent and engine-portable (mirrors label_centroids); empty
    cells drop out. Each round syncs ``n_cells`` driver rows — the same
    O(1)-rows-per-iteration model-fetch pattern as PageRank's dangling
    mass. Because every step is closed-form, the oracle replays the full
    fit as ``n_iter`` unrolled CTE rounds (the PageRank oracle trick) and
    the probe search bit-matches. Ref semantics: the inverted-file probe
    of ann_ivf (SURVEY §2 similarity tier) with the training pass made
    verifiable.
    """
    spark = embeddings.sparkSession
    # same in-plan length guard as the PQ tiers: a short non-NULL
    # embedding would otherwise skew the quantized centroid sums silently
    # (zip over mismatched lengths NULL-pads) instead of failing loudly.
    # ``validated`` callers pass the validate-once materialization of
    # :func:`validated_embeddings` — guard and checkpoint already paid.
    if not validated:
        embeddings = embeddings.where(F.col("embedding").isNotNull()).select(
            "vec_id", _guard_embedding_dim(dim).alias("embedding")
        )
    cent_lit = _seed_centroid_literals(embeddings, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double"
        )
    # n_iter assignment jobs + the probe all re-read the corpus: pin it
    # once (at cluster scale: cache/shuffle-file reuse across iterations,
    # the same reason PageRank checkpoints its rank table)
    emb = (embeddings if validated
           else embeddings.select("vec_id", "embedding")
           .localCheckpoint(eager=True))
    cent_lit = _lloyd_centroid_literals(emb, cent_lit, n_iter, dim)
    # checkpoint: the final assignment feeds both probe-join sides (r12)
    assigned = _assign_to_literal_centroids(
        emb, cent_lit
    ).localCheckpoint(eager=False)
    cent = spark.createDataFrame(cent_lit, "cell int, centroid array<double>")
    return _ivf_probe_search(assigned, cent, query_ids, k, n_probe)


# embedding_near_dupes blocking geometry: target per-bucket occupancy (B),
# plane-count clamp, and table fan-out for recall amplification
EMB_BUCKET_TARGET = 32
EMB_MIN_PLANES = 4
EMB_MAX_PLANES = 24
EMB_TABLES_AT_SCALE = 4


def adaptive_num_planes(
    n_vectors: int, bucket_target: int = EMB_BUCKET_TARGET
) -> int:
    """P ≈ log2(N/B): enough hyperplanes that a near-isotropic corpus puts
    ~``bucket_target`` vectors per bucket, clamped to [4, 24]."""
    import math

    return min(
        EMB_MAX_PLANES,
        max(
            EMB_MIN_PLANES,
            math.ceil(math.log2(max(1.0, n_vectors / bucket_target))),
        ),
    )


def embedding_near_dupes(embeddings: DataFrame, threshold: float = 0.4,
                         num_planes: int | None = None, dim: int = 64,
                         n_tables: int | None = None,
                         n_vectors: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (doc-level dedup by embedding):
    LSH blocking, exact cosine verification, pairs with cosine ≥ threshold.

    Bucket-occupancy math — ``num_planes`` defaults to a function of the
    corpus: P planes give 2^P buckets, so near-isotropic data puts ~N/2^P
    vectors per bucket and the within-bucket verify join costs Σ n_b² ≈
    N²/2^P comparisons — quadratic in N for any FIXED P. Choosing
    P = log2(N/B) (``adaptive_num_planes``; B = per-bucket occupancy
    target) makes the verify cost ≈ N·B/2 per table — linear in N — at
    e.g. N=10⁹, B=10⁴ → P≈17.

    Recall falls as P grows — a pair at cosine θ = cos⁻¹(c) survives one
    plane with probability r = 1 − θ/π and one table of P planes with
    r^P — so past the oracle-scale minimum P the blocker amplifies the
    standard way: L independent plane tables (distinct seeds), candidates
    = union of same-bucket pairs across tables, recall 1 − (1 − r^P)^L.
    Candidates stay O(L·N·B), preserving linearity (unlike widening the
    probe radius, whose candidate factor grows with P). Fully
    deterministic given the seeds."""
    if num_planes is None:
        # ``n_vectors`` lets callers pass a catalog/footer statistic
        # (sources.catalog.table_row_count) so sizing the blocker costs
        # a metadata read, not a full scan; count() stays as fallback
        # for frames with no backing table
        if n_vectors is None:
            n_vectors = embeddings.count()
        num_planes = adaptive_num_planes(n_vectors)
    if n_tables is None:
        n_tables = 1 if num_planes <= EMB_MIN_PLANES else EMB_TABLES_AT_SCALE
    # the plane-dot projection and verify join parallelize per partition;
    # widen coarse scan splits (small files) to the core count — a no-op
    # on inputs that already carry ≥ defaultParallelism splits
    sc = embeddings.sparkSession.sparkContext
    if embeddings.rdd.getNumPartitions() < sc.defaultParallelism:
        embeddings = embeddings.repartition(sc.defaultParallelism)
    # per-table sign buckets + the table explode, fused into one
    # Arrow/NumPy pass (r12, guide §4.2); the verification cosine runs
    # in the pair kernel — same bits as the precomputed-norm HOF form
    from bigdata2016w_spark.operators.np_kernels import (
        lsh_bucket_tables_fn,
    )

    tables = [
        (t, _planes(dim, num_planes, seed=LSH_SEED + t))
        for t in range(n_tables)
    ]
    src = embeddings.select("vec_id", "embedding")
    emb_b = src.mapInPandas(
        lsh_bucket_tables_fn(tables, ["vec_id", "embedding"]),
        T.StructType(
            [src.schema[c] for c in ("vec_id", "embedding")]
            + [T.StructField("t", T.IntegerType()),
               T.StructField("bucket", T.IntegerType())]
        ),
    )
    joined = (
        emb_b.alias("x")
        .join(emb_b.alias("y"), ["t", "bucket"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.embedding").alias("a_emb"),
            F.col("y.embedding").alias("b_emb"),
        )
    )
    schema = T.StructType(
        [joined.schema[c] for c in ("vec_a", "vec_b")]
        + [T.StructField("cosine", T.DoubleType())]
    )
    return (
        joined.mapInPandas(
            np_pair_cosine_fn("a_emb", "b_emb", ["vec_a", "vec_b"]), schema
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


# centroid quantum: embeddings are float32 (~7 significant digits); scaling
# by 2^24 and rounding to int64 makes per-dimension sums order-independent
# (exact integer math) while preserving more precision than the input has
CENTROID_QUANT = 1 << 24


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding column as (label, dim,
    centroid, n_vectors) rows — the class-prototype operator behind
    nearest-centroid classification and per-class drift monitoring.

    posexplode → per-(label, dim) sum of integer-quantized components →
    single hash aggregate with map-side combine; output cardinality is
    labels × dims regardless of corpus size. Quantization before the sum
    makes the result bit-identical across partitionings and engines (a
    raw float sum is neither associative nor portable)."""
    ex = embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    q = F.round(F.col("x").cast("double") * CENTROID_QUANT).cast("bigint")
    return (
        ex.groupBy("label", "dim")
        .agg(F.sum(q).alias("s"), F.count("*").alias("n_vectors"))
        .select(
            "label",
            "dim",
            F.round(
                F.col("s").cast("double") / F.col("n_vectors") / CENTROID_QUANT,
                6,
            ).alias("centroid"),
            "n_vectors",
        )
    )


def nearest_centroid_confusion(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid classification of every vector against the
    per-label centroids, reported as a confusion matrix (label,
    predicted_label, n_vectors).

    Shape: the centroid table (labels × dims, tiny) joins the exploded
    vectors per dimension; squared-difference terms are quantized to
    int64 BEFORE the per-(vector, candidate-label) sum so distances are
    order-independent and engine-portable; argmin per vector is a window
    partitioned by vec_id (scale-safe), ties broken by label. Output
    cardinality is labels², independent of corpus size."""
    from pyspark.sql.window import Window

    cent = label_centroids(embeddings).select(
        F.col("label").alias("cand"), "dim", "centroid"
    )
    ex = embeddings.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    )
    term = F.round(
        (F.col("x").cast("double") - F.col("centroid"))
        * (F.col("x").cast("double") - F.col("centroid"))
        * CENTROID_QUANT
    ).cast("bigint")
    dist = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "cand")
        .agg(F.sum(term).alias("d2"))
    )
    pick = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cand"))
    return (
        dist.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .groupBy("label", F.col("cand").alias("predicted_label"))
        .agg(F.count("*").alias("n_vectors"))
    )


def knn_ivf_from_index(
    spark,
    index_path: str,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a PERSISTED inverted file (``sources.sinks.write_ivf_index``):
    centroids are recovered as the per-cell integer-quantized means (the
    label_centroids formula — n_cells × dim rows, a model fetch), each
    query ranks them exactly, and the candidate scan reads ONLY the
    probed cell partitions — Spark's dynamic partition pruning turns the
    probes⋈index join on the partition column into a directory-level
    skip, so the scan fraction ≈ n_probe/n_cells holds on disk, not just
    in memory (asserted on the physical plan in
    tests/test_plan_properties.py)."""
    idx = spark.read.parquet(index_path)
    ex = idx.select("cell", F.posexplode("embedding").alias("dim", "x"))
    q = F.round(F.col("x").cast("double") * CENTROID_QUANT).cast("bigint")
    rows = (
        ex.groupBy("cell", "dim")
        .agg(F.sum(q).alias("s"), F.count("*").alias("n"))
        .select(
            "cell", "dim",
            F.round(
                F.col("s").cast("double") / F.col("n") / CENTROID_QUANT, 6
            ).alias("c"),
        )
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = float(r["c"])
    cent = spark.createDataFrame(
        [(cell, [vals[d] for d in range(len(vals))])
         for cell, vals in sorted(by_cell.items())],
        "cell int, centroid array<double>",
    )
    return _ivf_probe_search(idx, cent, query_ids, k, n_probe)


# --- Product quantization (the IVF-PQ compression path) ---------------------
#
# PQ stores each vector as M sub-space code ids instead of raw floats —
# M=8 codes of 4 bits = 4 bytes/vector vs 256 bytes of float32 (64×), the
# difference between an embedding table that fits in cluster RAM at 100 TB
# and one that doesn't. Search is asymmetric distance computation (ADC):
# the query stays exact, per-(subspace, codeword) distances are a tiny
# lookup table, and the corpus scan touches only the codes.
#
# Everything is deterministic and engine-portable: codebooks initialize
# from the K lowest vec_ids (the seed convention of knn_ivf_flat) and take
# ONE Lloyd refinement step with the CENTROID_QUANT integer-mean formula,
# and every squared-L2 is summed over int64-quantized per-dimension terms,
# so a DuckDB oracle replays codebook, codes, and ADC ranks bit-exactly.

PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_d2(a, b) -> Column:
    """Integer-exact squared L2 between equal-length (sub)vectors: each
    per-dimension squared difference is scaled by CENTROID_QUANT and
    rounded to int64 BEFORE the sum, making the fold associative — the
    same trick as :func:`nearest_centroid_confusion`, so the distance is
    identical for any summation order and any engine."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.round(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * CENTROID_QUANT
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _pq_subvectors(
    embeddings: DataFrame, n_subspaces: int, dim: int,
    keep: tuple[str, ...] = ("vec_id",),
    validated: bool = False,
) -> DataFrame:
    """(*keep, m, sv): the M contiguous sub-vectors of each embedding —
    one explode per input row, so all M rows of a vector stay in the
    producing partition (downstream per-vector partial aggs combine
    map-side). NULL embeddings are dropped up front (the DuckDB oracles
    drop them structurally via unnest-over-len; without the filter they
    would encode to the lowest codeword and surface as fake neighbors);
    ``dim`` must split evenly — a remainder would silently vanish from
    every distance. EVERY surviving row's embedding length is checked
    against ``dim`` by an in-plan ``raise_error`` guard shared by all PQ
    entry points (codebook / encode / ADC / IVF-PQ): a short vector's
    ``slice`` yields short sub-vectors whose ``zip_with`` distance terms
    are NULL, and struct ordering sorts the NULL d2 FIRST, so without
    the guard the row would silently take the lowest codeword and
    surface as a fake nearest neighbor. The NULL case rides inside the
    ``when`` condition, not only the filter, because Catalyst may
    collapse this projection with a consumer and evaluate it on
    pre-filter rows.

    ``validated`` callers already guaranteed non-NULL dim-length rows —
    either :func:`validated_embeddings`' validate-once materialization
    or a residual frame whose zip_with output is structurally
    centroid-length — so the when/raise_error wrapper (which projection
    collapse would inline into all M slice expressions) is skipped."""
    if dim % n_subspaces:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces} — "
            f"the trailing {dim % n_subspaces} dimensions would be "
            "silently dropped from all PQ distances"
        )
    sd = dim // n_subspaces
    if validated:
        checked = embeddings.select(*keep, "embedding")
    else:
        checked = embeddings.where(F.col("embedding").isNotNull()).select(
            *keep,
            F.when(
                F.col("embedding").isNull() | (F.size("embedding") == dim),
                F.col("embedding"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("embedding length "),
                        F.size("embedding").cast("string"),
                        F.lit(
                            f" does not match the PQ geometry "
                            f"({n_subspaces} subspaces x {sd} dims = {dim})"
                        ),
                    )
                )
            ).alias("embedding"),
        )
    return checked.select(
        *keep,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("embedding", m * sd + 1, sd).alias("sv"),
                )
                for m in range(n_subspaces)
            ])
        ).alias("s"),
    ).select(*keep, F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _argmin_code(cws_col, sv_col) -> Column:
    """Code of the nearest codeword: build (d2, code) structs for every
    codeword in the broadcast array and take array_min — lexicographic
    struct ordering IS argmin with ties to the lowest code, evaluated
    entirely map-side (no window, no shuffle)."""
    return F.array_min(
        F.transform(
            cws_col,
            lambda cw: F.struct(
                pq_d2(sv_col, cw["cv"]).alias("d2"),
                cw["code"].alias("code"),
            ),
        )
    )["code"]


PQ_TRAIN_N = 256


def pq_codebook(
    embeddings: DataFrame,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    train_n: int = PQ_TRAIN_N,
    init_offset: int = 0,
    n_steps: int = 1,
    validated: bool = False,
) -> DataFrame:
    """Per-subspace PQ codebook (m, code, cv array<double>).

    Trained on the ``train_n`` lowest vec_ids only — a bounded
    deterministic sample, the standard PQ practice (Jégou et al. train
    on a fraction; at 100 TB training on the full corpus would be the
    bug): codebook cost is O(train_n·M·K) regardless of corpus size and
    the vec_id predicate prunes parquet row groups at the scan. Init
    codewords are the sub-vectors of the ``n_codes`` lowest vec_ids;
    each of the ``n_steps`` Lloyd steps then assigns every training
    sub-vector to its nearest current codeword (integer-exact L2, ties
    → lowest code) and recomputes each SURVIVING code as the
    CENTROID_QUANT integer-quantized per-dimension mean rounded to 6
    decimals — the exact :func:`label_centroids` formula, so both
    engines emit bit-identical doubles and the oracle replays the fit
    as unrolled CTE steps.

    Shape: assignment is a broadcast join + map-side array_min (nothing
    corpus-sized shuffles); the mean update is one hash agg over
    (m, code, d) — ≤ M·K·subdim groups. At production scale the result
    is a model artifact: write it once and read it back, as with
    write_ivf_index.

    ``init_offset`` shifts the init-codeword id window to
    [init_offset, init_offset + n_codes): the residual-PQ caller needs
    it because the residuals of the ``n_cells`` lowest vec_ids — the
    seed centroids themselves — are all-zero vectors, and seeding every
    codeword with the same zero vector would collapse the codebook to
    one live code. Codes stay 0..n_codes-1 (vec_id − init_offset).
    """
    if init_offset + n_codes > train_n:
        raise ValueError(
            f"init window [{init_offset}, {init_offset + n_codes}) exceeds "
            f"the training sample vec_id < {train_n}"
        )
    sub = _pq_subvectors(
        embeddings.where(F.col("vec_id") < train_n), n_subspaces, dim,
        validated=validated,
    )
    cur = sub.where(
        (F.col("vec_id") >= init_offset)
        & (F.col("vec_id") < init_offset + n_codes)
    ).select(
        "m", (F.col("vec_id") - init_offset).alias("code"),
        F.col("sv").alias("cv"),
    )
    q = F.round(F.col("x").cast("double") * CENTROID_QUANT).cast("bigint")
    for _ in range(n_steps):
        cur_g = cur.groupBy("m").agg(
            F.sort_array(F.collect_list(F.struct("code", "cv"))).alias("cws")
        )
        assigned = sub.join(broadcast(cur_g), "m").select(
            "m",
            _argmin_code(F.col("cws"), F.col("sv")).alias("code"),
            "sv",
        )
        per_dim = (
            assigned.select("m", "code", F.posexplode("sv").alias("d", "x"))
            .groupBy("m", "code", "d")
            .agg(F.sum(q).alias("s"), F.count("*").alias("n"))
            .select(
                "m", "code", "d",
                F.round(
                    F.col("s").cast("double") / F.col("n") / CENTROID_QUANT, 6
                ).alias("c"),
            )
        )
        cur = per_dim.groupBy("m", "code").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "c"))),
                lambda t: t["c"],
            ).alias("cv")
        )
    return cur


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    keep: tuple[str, ...] = ("vec_id",),
    validated: bool = False,
) -> DataFrame:
    """(*keep, m, code): each vector's per-subspace nearest-codeword id —
    map-side argmin against the frozen codebook, zero corpus shuffle.
    This is the table a 100-TB deployment persists instead of raw
    embeddings. ``keep`` lets a caller thread extra per-vector columns
    (knn_ivf_pq's cell) through the one corpus pass.

    r12 optimization (guide §4.2): the subvector-explode + broadcast
    codebook join + interpreted transform/array_min argmin is replaced
    by the Arrow-batched NumPy kernel ``np_kernels.encode_pq_fn`` —
    exact integer-quantized distances (see the np_kernels HALF_UP
    proof), ties → lowest code, one corpus pass, still map-side-only.
    The codebook is fetched to the driver once (M·K rows, the model-
    fetch convention every caller already follows via
    _pq_codebook_literal) and ships in the kernel closure; all M rows
    of a vector are still emitted by the producing task, so downstream
    per-vector partial aggs keep combining map-side.

    NOTE: the codebook fetch is a ``collect()`` that runs EAGERLY when
    this function is called — building the returned DataFrame triggers
    Spark jobs for the codebook subtree, and a codebook error surfaces
    here rather than at the consumer's action (unlike the lazy
    broadcast join it replaced). Don't build these plans
    speculatively."""
    cb_rows = [
        (int(r["m"]), int(r["code"]), [float(x) for x in r["cv"]])
        for r in codebook.collect()
    ]
    src = (
        embeddings if validated
        else embeddings.where(F.col("embedding").isNotNull())
    ).select(*keep, "embedding")
    code_t = codebook.schema["code"].dataType
    schema = T.StructType(
        [src.schema[c] for c in keep]
        + [T.StructField("m", T.IntegerType()),
           T.StructField("code", code_t)]
    )
    return src.mapInPandas(
        np_encode_pq_fn(cb_rows, n_subspaces, dim, keep), schema
    )


def knn_pq_adc(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    codebook: DataFrame | None = None,
    validated: bool = False,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance: (query_id, vec_id,
    adc_d2), k rows per query, smallest reconstructed squared-L2 first,
    self excluded, ties → lowest vec_id.

    The LUT (query × subspace × codeword distances, exact queries vs
    codewords) has |Q|·M·K rows — broadcast. The scan joins the codes
    table against it map-side; the per-(query, vector) M-term sum
    combines map-side too (codes of one vector share a partition by
    construction), so the only shuffle is |Q|·n skinny partial rows into
    the final agg + the two-stage top-k. With a large query batch,
    pivot the LUT to a per-query map keyed by m·K+code and fold codes
    per row to drop even that shuffle.

    The codebook is fetched to the driver once (M·K rows — a model
    fetch, like the IVF centroid syncs) and re-shipped as a literal
    broadcast table; inlining its multi-stage plan instead would
    re-execute the codebook build once per broadcast consumer.
    """
    cb = codebook if codebook is not None else _pq_codebook_literal(
        embeddings, n_codes, n_subspaces, dim, validated=validated
    )
    codes = pq_encode(embeddings, cb, n_subspaces, dim, validated=validated)
    qsub = _pq_subvectors(
        embeddings.where(F.col("vec_id").isin(*query_ids)), n_subspaces, dim,
        validated=validated,
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv"))
    return _pq_adc_search(codes, cb, qsub, k)


def _pq_codebook_literal(
    embeddings: DataFrame, n_codes: int, n_subspaces: int, dim: int,
    init_offset: int = 0, n_steps: int = 1, validated: bool = False,
) -> DataFrame:
    """Train the codebook and re-ship it as a literal DataFrame: M·K rows
    fetched to the driver once (a model fetch, like the IVF centroid
    syncs). Inlining the multi-stage training plan instead would
    re-execute it once per broadcast consumer."""
    cb_rows = pq_codebook(
        embeddings, n_codes, n_subspaces, dim, init_offset=init_offset,
        n_steps=n_steps, validated=validated,
    ).collect()
    return embeddings.sparkSession.createDataFrame(
        [(int(r["m"]), int(r["code"]), [float(x) for x in r["cv"]])
         for r in cb_rows],
        "m int, code bigint, cv array<double>",
    )


def _pq_adc_search(
    codes: DataFrame, cb: DataFrame, qsub: DataFrame, k: int
) -> DataFrame:
    """ADC tail shared by the in-memory and persisted-index paths:
    broadcast LUT build, map-side codes⋈LUT join with combinable
    per-(query, vector) sums, two-stage top-k."""
    lut = qsub.join(broadcast(cb), "m").select(
        "query_id", "m", "code", pq_d2(F.col("qsv"), F.col("cv")).alias("lut_d2")
    )
    adc = (
        codes.join(broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )
    return topk_per_group(
        adc, ["query_id"], [F.asc("adc_d2"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "adc_d2")


def pack_pq_codes(
    codes: DataFrame, keep: tuple[str, ...] = ("vec_id",)
) -> DataFrame:
    """(*keep, codes array<tinyint>): the persisted form — M 4-bit code
    ids packed positionally (index = subspace), byte-typed. THIS is the
    footprint story: the codes table replaces the float32 embedding
    column at scan time, M bytes vs 4·dim bytes per vector. ``keep``
    threads extra per-vector columns (the IVF-PQ index keeps ``cell``,
    its hive-partition key) through the pack."""
    return codes.groupBy(*keep).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("m", "code"))),
            lambda t: t["code"].cast("tinyint"),
        ).alias("codes")
    )


def unpack_pq_codes(packed: DataFrame) -> DataFrame:
    """Inverse of :func:`pack_pq_codes` — positional explode back to
    (vec_id, m, code) for the ADC join (narrow, shuffle-free)."""
    return packed.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    ).select("vec_id", "m", F.col("code").cast("bigint").alias("code"))


def knn_pq_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ADC search against a PERSISTED PQ index
    (``sources.sinks.write_pq_index``): the codebook is read back (M·K
    rows — broadcast), the corpus scan reads ONLY the packed codes table
    (M bytes/vector instead of the raw embeddings), and ``queries``
    (vec_id, embedding) stay exact. Bit-identical to :func:`knn_pq_adc`
    on the same corpus because codebook, codes, and int64 LUT distances
    round-trip parquet exactly.

    The index is self-describing: subspace count and width are derived
    from the stored codebook (M = max(m)+1, subdim = len(cv)) rather
    than trusted as caller parameters — a geometry mismatch between
    caller defaults and the index would otherwise NULL out every LUT
    distance and return k arbitrary rows with NULL adc_d2. EVERY query
    row's embedding length is checked against the index geometry by the
    in-plan ``raise_error`` guard shared by all PQ entry points
    (``_pq_subvectors``; a driver-side check of the first row would let
    later mismatched rows slip through silently)."""
    cb = spark.read.parquet(f"{index_path}/codebook")
    meta = cb.agg(F.max("m").alias("mm"), F.max(F.size("cv")).alias("sd")
                  ).first()
    if meta["mm"] is None:  # empty index (empty corpus at write time)
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc_d2 long"
        )
    n_subspaces, sd = int(meta["mm"]) + 1, int(meta["sd"])
    dim = n_subspaces * sd
    codes = unpack_pq_codes(spark.read.parquet(f"{index_path}/codes"))
    qsub = _pq_subvectors(queries, n_subspaces, dim).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv")
    )
    return _pq_adc_search(codes, cb, qsub, k)


def _seed_centroid_literals(
    embeddings: DataFrame, n_cells: int
) -> list[tuple[int, list[float]]]:
    """The deterministic seed-centroid convention shared by the NEW
    cell-blocked operators (semdedup_drop_list, knn_ivf_pq): the
    ``n_cells`` lowest vec_ids with a non-NULL embedding, collected once
    (an O(n_cells)-row model fetch) and sorted by id. A NULL embedding
    can never become a centroid — its cosine would be NULL against every
    vector and the cell would silently swallow or drop rows depending on
    engine NULL-ordering."""
    rows = sorted(
        embeddings.where(
            (F.col("vec_id") < n_cells) & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]


def semdedup_drop_list(
    embeddings: DataFrame, threshold: float = 0.4, n_cells: int = 16
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then look
    for high-cosine pairs ONLY within a cluster — the published
    trade-off that bounds the quadratic pair search to cluster-sized
    blocks. Returns the DROP list: one row per vector that duplicates a
    lower-id vector in its cluster — (dropped_id, cell, witness_id,
    cosine) with the witness the max-cosine LOWER-ID candidate (ties →
    lowest id). The witness is evidence, not necessarily a survivor: in
    a chained near-dup set (0~1, 1~2) vector 2's witness 1 is itself
    dropped, and removing every dropped_id leaves exactly the lowest id
    of each chain — the engine's exact-dedup survivor convention.
    Cross-cluster near-dups are deliberately out of scope (that lossless
    tier is :func:`embedding_near_dupes`).

    Shape: cell assignment is the map-side literal-centroid argmax of
    :func:`knn_ivf_flat` (seed centroids = the n_cells lowest vec_ids —
    an O(n_cells)-row model fetch, no training shuffle); the pair search
    is a self-equi-join on cell, so candidate count is Σ|cell|² — at
    100 TB, n_cells scales with the corpus to hold |cell| roughly
    constant and the join keys stay well-distributed. The witness argmax
    is max(struct(...)) — planned as a partial+final SortAggregate pair
    (struct buffers aren't hash-aggregable; the sorts are per-partition
    and spillable, and the partial max runs map-side before the
    exchange) — not a window over an unbounded partition.
    """
    spark = embeddings.sparkSession
    embeddings = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(embeddings, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "dropped_id long, cell int, witness_id long, cosine double"
        )
    # the assignment (the HOF-heavy argmax over the centroid matrix) feeds
    # BOTH sides of the pair self-join — checkpoint it so it is computed
    # once, not once per join side (the shared-intermediate convention of
    # plans.pipeline._shared_jaccard_pairs; at cluster scale: write the
    # cell table once, read it twice)
    assigned = (
        _assign_to_literal_centroids(embeddings, cent_lit)
        .localCheckpoint(eager=False)
    )
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("witness_id"),
        F.col("embedding").alias("w_emb"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("dropped_id"),
        F.col("embedding").alias("d_emb"),
    )
    joined = (
        a.join(b, "cell")
        .where(F.col("witness_id") < F.col("dropped_id"))
        .select("dropped_id", "cell", "witness_id", "w_emb", "d_emb")
    )
    # in-cell verification cosine via the Arrow/NumPy pair kernel (r12,
    # guide §4.2; same bits as the precomputed-norm HOF form — identical
    # left-fold values, identical division); the ≥ threshold filter
    # stays in Spark so NULL/NaN comparison semantics are unchanged
    schema = T.StructType(
        [joined.schema[c] for c in ("dropped_id", "cell", "witness_id")]
        + [T.StructField("cosine", T.DoubleType())]
    )
    pairs = joined.mapInPandas(
        np_pair_cosine_fn("w_emb", "d_emb",
                          ["dropped_id", "cell", "witness_id"]),
        schema,
    ).where(F.col("cosine") >= threshold)
    best = F.max(
        F.struct(F.col("cosine"), (-F.col("witness_id")).alias("nw"))
    ).alias("b")
    return (
        pairs.groupBy("dropped_id", "cell")
        .agg(best)
        .select(
            "dropped_id", "cell",
            (-F.col("b.nw")).alias("witness_id"),
            F.col("b.cosine").alias("cosine"),
        )
    )


def _fused_assign_encode(
    embeddings: DataFrame,
    cent_lit: list[tuple[int, list[float]]],
    codebook: DataFrame,
    n_subspaces: int,
    dim: int,
    residual: bool,
) -> DataFrame:
    """(vec_id, cell, m, code): the IVF-PQ tiers' whole per-row corpus
    pipeline — max-cosine cell assignment, optional residual shift
    against the assigned centroid, PQ nearest-codeword encoding — as ONE
    Arrow-batched NumPy pass (np_kernels.assign_encode_fn). Replaces the
    former three-operator chain (assignment projection → residual
    zip_with join → encode explode/argmin), which crossed the corpus
    through interpreted HOF evaluation three times. Map-side-only, so
    nothing changes at scale; the two models ship in the closure (the
    literal-broadcast convention)."""
    cb_rows = [
        (int(r["m"]), int(r["code"]), [float(x) for x in r["cv"]])
        for r in codebook.collect()
    ]
    src = embeddings.select("vec_id", "embedding")
    schema = T.StructType([
        src.schema["vec_id"],
        T.StructField("cell", T.IntegerType()),
        T.StructField("m", T.IntegerType()),
        T.StructField("code", codebook.schema["code"].dataType),
    ])
    return src.mapInPandas(
        np_assign_encode_fn(cent_lit, cb_rows, n_subspaces, dim, residual),
        schema,
    )


def knn_ivf_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    codebook: DataFrame | None = None,
    validated: bool = False,
) -> DataFrame:
    """IVF-PQ: the production ANN shape — a coarse inverted file bounds
    the scan FRACTION (n_probe/n_cells of cells touched) while product
    quantization bounds the scan FOOTPRINT (M byte codes per candidate
    instead of the float vector). Queries rank the seed centroids by
    exact cosine, probe their best cells, and rank ONLY probed-cell
    candidates by ADC distance. Returns (query_id, vec_id, adc_d2), ties
    → lowest vec_id; codes come from the globally trained codebook (no
    per-cell residual re-encoding — the faiss-style residual refinement
    is documented out of scope, everything here stays closed-form and
    oracle-replayable).

    Shape: cell assignment and PQ encoding happen in ONE map-side pass
    over the corpus (literal centroid matrix + broadcast codebook — a
    codes⋈cells join on vec_id would shuffle the corpus twice); probes
    and LUT are broadcast; the per-candidate M-term sums combine
    map-side, so the only shuffle is |Q|·(probed candidates) skinny
    partial rows plus the two-stage top-k."""
    spark = embeddings.sparkSession
    if not validated:
        embeddings = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(embeddings, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc_d2 long"
        )
    cent = spark.createDataFrame(cent_lit, "cell int, centroid array<double>")

    # one-pass cell + code projection, fused into a single Arrow/NumPy
    # corpus kernel (r12, guide §4.2): assignment and encoding share one
    # scan AND one Python crossing; all M rows of a vector are emitted
    # by the producing task, so the ADC partial agg still combines
    # map-side
    cb = codebook if codebook is not None else _pq_codebook_literal(
        embeddings, n_codes, n_subspaces, dim, validated=validated
    )
    codes = _fused_assign_encode(embeddings, cent_lit, cb, n_subspaces,
                                 dim, residual=False)

    q = embeddings.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_cos"), F.asc("cell")
    )
    probes = (
        broadcast(q)
        .crossJoin(broadcast(cent))
        .select(
            "query_id", "q_emb", "cell",
            cosine(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "cell")
    )
    qsub = _pq_subvectors(
        embeddings.where(F.col("vec_id").isin(*query_ids)), n_subspaces, dim,
        validated=validated,
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv"))
    lut = qsub.join(broadcast(cb), "m").select(
        "query_id", "m", "code", pq_d2(F.col("qsv"), F.col("cv")).alias("lut_d2")
    )
    adc = (
        codes.join(broadcast(probes), "cell")
        .join(broadcast(lut), ["query_id", "m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )
    return topk_per_group(
        adc, ["query_id"], [F.asc("adc_d2"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "adc_d2")


def _ivf_residual_frame(
    assigned: DataFrame, cent: DataFrame, dim: int,
    validated: bool = False,
) -> DataFrame:
    """(vec_id, cell, embedding): each vector replaced by its residual
    against its assigned cell's centroid — the IVFPQ decomposition
    (Jégou et al., TPAMI'11 §III): residuals concentrate near the
    origin, so the same code budget quantizes them with less error than
    the raw vectors. Broadcast centroid join + one zip_with, map-side;
    float→double per-dim subtraction is IEEE-exact on both engines.

    The raise_error length guard must run HERE, before the zip_with —
    zip_with pads a short embedding with NULLs up to centroid length,
    so the residual of a short vector is full-length and would sail
    through _pq_subvectors' shared guard, NULL out its pq_d2 terms, and
    encode to the lowest codeword (the exact fake-neighbor failure the
    guard exists to stop). ``validated`` callers already paid the guard
    once (:func:`validated_embeddings`), so the zip reads a plain
    column — keeping the raise_error expression out of the encode
    argmin, where projection collapse would re-evaluate it per
    codeword."""
    emb_col = (F.col("embedding") if validated
               else _guard_embedding_dim(dim))
    return assigned.join(broadcast(cent), "cell").select(
        "vec_id", "cell",
        F.zip_with(
            emb_col, F.col("centroid"),
            lambda x, c: x.cast("double") - c,
        ).alias("embedding"),
    )


def _guard_embedding_dim(dim: int, col: str = "embedding"):
    """In-plan per-row validity check for an embedding column: pass NULL
    through (callers drop it), raise on a length mismatch OR a NULL
    element. The NULL case rides inside the when condition, not only an
    upstream filter, because Catalyst may collapse the projection with a
    consumer and evaluate it on pre-filter rows (same note as
    _pq_subvectors).

    The NULL-element raise is the kernel contract (np_kernels module
    doc): Arrow turns a NULL list element into NaN before a pandas
    kernel can see it, so NULL elements are indistinguishable from NaN
    past this point — they must be rejected here, at validation time,
    for the kernels' NULL/NaN parity claims to hold downstream."""
    return F.when(
        F.col(col).isNull()
        | (
            (F.size(col) == dim)
            & ~F.exists(col, lambda x: x.isNull())
        ),
        F.col(col),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("embedding length "),
                F.size(col).cast("string"),
                F.lit(
                    f" does not match the PQ geometry (dim = {dim}) "
                    "or the vector carries NULL elements"
                ),
            )
        )
    )


def lloyd_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    validated: bool = False,
) -> list[tuple[int, list[float]]]:
    """Seed centroids Lloyd-refined over the (NULL-filtered) corpus —
    the exact-arithmetic coarse quantizer of :func:`knn_ivf_lloyd`,
    exposed as a model literal so the residual-PQ tier can train, encode
    and probe against the SAME centroids without re-fitting per
    consumer. Refinement matters for the residual formulation
    specifically: a seed centroid is an arbitrary member of its cell, so
    residuals against it carry MORE variance than the raw vectors
    (x − c with near-independent c roughly doubles it) and residual PQ
    would quantize worse than global PQ — measured on the synthetic
    fixtures before this trainer existed. Against the Lloyd cell MEAN,
    residual variance is the within-cell variance — strictly the part
    the coarse quantizer didn't explain. Same scale contract as
    knn_ivf_lloyd: n_iter × (map-side assignment + one hash agg),
    n_cells·dim driver rows per round, corpus checkpointed once; a
    production deployment persists the result (write_ivf_index) instead
    of re-fitting per query."""
    # shared PQ length guard, applied BEFORE the fit: a short non-NULL
    # embedding silently skews the quantized centroid means (and an
    # all-short cell only surfaces as a later driver-side KeyError).
    # ``validated`` callers pass :func:`validated_embeddings`' output —
    # guard and checkpoint already paid once for the whole run.
    if validated:
        e = emb = embeddings
    else:
        e = embeddings.where(F.col("embedding").isNotNull()).select(
            "vec_id", _guard_embedding_dim(dim).alias("embedding")
        )
    seed = _seed_centroid_literals(e, n_cells)
    if not seed:
        return []
    if not validated:
        emb = e.select("vec_id", "embedding").localCheckpoint(eager=True)
    return _lloyd_centroid_literals(emb, seed, n_iter, dim)


PQ_RES_STEPS = 2  # codebook Lloyd steps for the residual tier (see below)


def residual_pq_codebook(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    train_n: int = PQ_TRAIN_N,
    n_iter: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    n_steps: int = PQ_RES_STEPS,
    validated: bool = False,
) -> DataFrame | None:
    """Train the residual PQ codebook (the knn_ivf_pq_residual model) as
    a literal DataFrame, or None on an empty corpus. The codebook
    training itself reads ONLY vec_id < train_n (the filter pushes below
    the assignment map to the scan) — O(train_n·M·K·n_steps) at any
    corpus size; the coarse :func:`lloyd_centroids` fit is the one
    corpus-sized pass (pass ``centroids`` to reuse an existing fit).
    Residual sub-vectors carry less structure than raw ones (the cluster
    component is already subtracted), so the codebook takes
    ``n_steps`` = 2 Lloyd steps where the global codebook converges
    usefully in 1 — measured on the fixtures: 1 step leaves residual
    recall below global, 2 steps puts it at-or-above at every SF. Init
    codewords come from the id window starting at ``n_cells`` so a
    degenerate (n_iter=0) quantizer — whose seed-centroid residuals are
    all-zero vectors — can never seed every codeword identically (see
    pq_codebook's init_offset note)."""
    e = (embeddings if validated
         else embeddings.where(F.col("embedding").isNotNull()))
    cent_lit = (centroids if centroids is not None
                else lloyd_centroids(e, n_cells, n_iter, dim,
                                     validated=validated))
    if not cent_lit:
        return None
    cent = e.sparkSession.createDataFrame(
        cent_lit, "cell int, centroid array<double>"
    )
    bounded = e.where(F.col("vec_id") < train_n)
    res = _ivf_residual_frame(
        _assign_to_literal_centroids(bounded, cent_lit), cent, dim,
        validated=validated,
    )
    # res rows are structurally dim-length (guard ran before the zip)
    return _pq_codebook_literal(
        res, n_codes, n_subspaces, dim, init_offset=n_cells,
        n_steps=n_steps, validated=True,
    )


def knn_ivf_pq_residual(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    codebook: DataFrame | None = None,
    n_iter: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    validated: bool = False,
) -> DataFrame:
    """Residual-aware IVF-PQ — the standard IVFPQ formulation (Jégou et
    al., TPAMI'11 §III): the coarse quantizer is the exact-arithmetic
    Lloyd fit of :func:`lloyd_centroids` (pass ``centroids`` to reuse an
    existing fit), vectors are PQ-encoded as residuals against their
    assigned centroid instead of raw values, and each query builds a
    PER-PROBED-CELL LUT from its own residual q − centroid(c). Residuals
    against the cell MEAN carry only the within-cell variance, so the
    same M×K code budget spends its resolution on exactly what the
    coarse quantizer didn't explain — recall at least the global-
    codebook :func:`knn_ivf_pq`'s at the same scan fraction and
    footprint (the comparison is pinned in tests at every fixture SF).
    Returns (query_id, vec_id, adc_d2), ties → lowest vec_id.

    Shape vs knn_ivf_pq: identical scan story — cell assignment and
    residual encoding in ONE map-side corpus pass (broadcast centroid
    matrix + broadcast codebook), LUT is |Q|·n_probe·M·K rows broadcast,
    per-candidate sums combine map-side. The extra training cost is the
    Lloyd coarse fit (the knn_ivf_lloyd trainer: O(1) driver rows per
    round, corpus checkpointed once — a production deployment persists
    it via write_ivf_index instead of re-fitting per query); everything
    stays closed-form and oracle-replayable (the oracle unrolls both the
    Lloyd rounds and the codebook steps as CTEs, the PageRank trick)."""
    spark = embeddings.sparkSession
    if not validated:
        embeddings = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = (centroids if centroids is not None
                else lloyd_centroids(embeddings, n_cells, n_iter, dim,
                                     validated=validated))
    if not cent_lit:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc_d2 long"
        )
    cent = spark.createDataFrame(cent_lit, "cell int, centroid array<double>")
    if codebook is None:
        codebook = residual_pq_codebook(
            embeddings, n_cells, n_codes, n_subspaces, dim, n_iter=n_iter,
            centroids=cent_lit, validated=validated,
        )
    # assignment + residual shift + encode fused into one Arrow/NumPy
    # corpus pass (r12, guide §4.2) — see _fused_assign_encode
    codes = _fused_assign_encode(embeddings, cent_lit, codebook,
                                 n_subspaces, dim, residual=True)

    q = embeddings.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_cos"), F.asc("cell")
    )
    probes = (
        broadcast(q)
        .crossJoin(broadcast(cent))
        .select(
            "query_id", "q_emb", "cell", "centroid",
            cosine(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
    )
    # per-(query, probed cell) residual: the LUT distances are against
    # q − centroid(cell), so the LUT key gains the cell column. The
    # length guard runs before the zip_with for the same reason as in
    # _ivf_residual_frame (zip_with would NULL-pad a short query).
    qres = probes.select(
        "query_id", "cell",
        F.zip_with(
            _guard_embedding_dim(dim, "q_emb"),
            F.col("centroid"),
            lambda x, c: x.cast("double") - c,
        ).alias("embedding"),
    )
    # qres rows are structurally dim-length (q_emb guard ran pre-zip)
    qsub = _pq_subvectors(qres, n_subspaces, dim,
                          keep=("query_id", "cell"), validated=True)
    lut = qsub.join(broadcast(codebook), "m").select(
        "query_id", "cell", "m", "code",
        pq_d2(F.col("sv"), F.col("cv")).alias("lut_d2"),
    )
    adc = (
        codes.join(broadcast(lut), ["cell", "m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )
    return topk_per_group(
        adc, ["query_id"], [F.asc("adc_d2"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "adc_d2")


def knn_ivf_pq_rerank(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    rerank_factor: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    codebook: DataFrame | None = None,
    n_iter: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    validated: bool = False,
) -> DataFrame:
    """Two-stage ANN — the standard production refinement (Jégou et al.
    §V-C): :func:`knn_ivf_pq_residual` produces a k·``rerank_factor``
    ADC shortlist from code bytes alone, then ONLY those shortlist rows
    are re-ranked by exact cosine against the raw embeddings. Returns
    (query_id, vec_id, cosine) — directly comparable to knn_bruteforce —
    k rows per query, ties → lowest vec_id.

    Scan story: stage 1 keeps the IVF-PQ bounds (probe fraction × M
    bytes/vector); stage 2 touches raw floats for |Q|·k·factor rows via
    a BROADCAST of the shortlist against the (vec_id, embedding)
    projection — the refinement reads a column-pruned corpus pass here,
    where a production deployment would point-look-up the shortlist ids
    in a keyed store; either way the exact-distance work is shortlist-
    sized, which is the point. Recall strictly improves on the ADC-only
    ranking whenever quantization reordered true neighbors inside the
    shortlist (pinned ≥ in tests at every fixture SF)."""
    short = knn_ivf_pq_residual(
        embeddings, query_ids, k * rerank_factor, n_cells, n_probe,
        n_codes, n_subspaces, dim, codebook, n_iter, centroids,
        validated=validated,
    ).select("query_id", "vec_id")
    e = (embeddings if validated
         else embeddings.where(F.col("embedding").isNotNull())
         ).select("vec_id", "embedding")
    q = e.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    rer = (
        e.join(broadcast(short), "vec_id")
        .join(broadcast(q), "query_id")
        .select(
            "query_id", "vec_id",
            cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
        )
    )
    return topk_per_group(
        rer, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "cosine")


# Frozen model artifacts of a persisted IVF-PQ index, fetched ONCE per
# (session, index_path): n_cells centroid rows + M·K codeword rows — a
# bounded model fetch (the lloyd_centroids/_pq_codebook_literal
# convention), NOT a data funnel. Coherent within a session because the
# index contract is train-once: streamed appends and compaction never
# touch centroids/codebook, and write_ivfpq_index invalidates its path
# on (re)write. Shaves two model parquet scans + a metadata agg job off
# EVERY probe — the fixed overhead that dominated the serve path.
def _index_cache_key(index_path: str) -> tuple[str, str]:
    """Shared-entry key with a NORMALIZED path: the same physical index
    addressed with a trailing slash or a relative path must hit the
    same entry, and — more important — the write-side ``forget`` must
    remove whatever the read side stored. URI-style paths (scheme://)
    only lose trailing slashes (os.path.abspath would mangle the double
    slash); plain local paths are made absolute."""
    import os

    p = index_path.rstrip("/")
    if "://" not in p:
        p = os.path.abspath(p or "/")
    return ("index_models", p)


def _index_models(spark, index_path: str) -> tuple[list, list]:
    """(codebook rows [(m, code, cv)], centroid rows [(cell, centroid)])
    of the index at ``index_path``, session-shared. Empty lists for an
    index written from an empty corpus."""

    def build() -> tuple[list, list]:
        cb_rows = sorted(
            (int(r["m"]), int(r["code"]), [float(x) for x in r["cv"]])
            for r in spark.read.parquet(f"{index_path}/codebook").collect()
        )
        cent_rows = sorted(
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in spark.read.parquet(
                f"{index_path}/centroids").collect()
        )
        return cb_rows, cent_rows

    return shared(spark, _index_cache_key(index_path), build)


def _adc_lut_driver(q_rows, cent_rows, cb_rows, n_probe: int,
                    n_subspaces: int, sd: int, dim: int) -> list:
    """Driver-side twin of the former in-plan probe/LUT computation:
    (query_id, cell, m, code, lut_d2) rows for every query × probed cell
    × codeword — |Q|·n_probe·M·K rows of MODEL-sized work (microseconds
    of float math), never corpus-sized. Exists because building the
    equivalent Catalyst expression tree (window + zip_with folds + M
    subvector slices) cost ~2 s of Py4J construction + fresh-plan
    analysis PER CALL — two orders of magnitude more than the arithmetic
    itself — which dominated the serve path.

    Bit-parity contract with the in-plan arithmetic (pinned by
    test_ivfpq_index_roundtrip_matches_inmemory and the driver gate):
    every float op replays Spark's exact expression order — left-fold
    dot products, cosine as one division of the dot by the product of
    the two sqrt'd norms (a zero denominator RAISES, replicating ANSI
    Spark's DIVIDE_BY_ZERO — the in-plan twin raises on a zero-norm
    query or centroid, so silently probing IEEE-inf/NaN-ranked cells
    here would break bit parity; NaN cosines from NaN components still
    rank greatest like Spark's desc ordering), residual subtraction
    per element, and pq_d2's per-element round((x-y)²·2^24) where the
    HALF_UP rounding goes through Decimal(repr(v)) — repr() and Java's
    Double.toString both emit round-trip decimal strings of the same
    double, and distinct doubles sit ≥1 ulp from any representable
    n+0.5 boundary while repr stays within half an ulp, so the integer
    rounding can never diverge."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def fdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def fdiv(num, den):
        # ANSI Spark double division: a zero divisor raises
        # DIVIDE_BY_ZERO (the engine runs with spark.sql.ansi.enabled's
        # Spark-4 default of true), so the in-plan twin fails loudly on
        # a zero-norm query embedding or centroid — this driver-side
        # replay must too, not return IEEE inf/NaN and silently probe
        # differently-ranked cells
        if den == 0.0:
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] zero-norm embedding or centroid in "
                "ADC LUT cosine (ANSI division semantics)"
            )
        return num / den

    one = Decimal(1)
    quant = float(CENTROID_QUANT)
    by_m: dict[int, list] = {}
    for m, code, cv in cb_rows:
        by_m.setdefault(m, []).append((code, cv))

    out = []
    for r in q_rows:
        qid, emb = r["vec_id"], r["embedding"]
        if emb is None:  # NULL embeddings pass through and are dropped
            continue
        if len(emb) != dim:  # the _guard_embedding_dim contract
            raise ValueError(
                f"embedding length {len(emb)} does not match the PQ "
                f"geometry (dim = {dim})"
            )
        qe = [float(x) for x in emb]
        nq = math.sqrt(fdot(qe, qe))
        scored = []
        for cell, cent in cent_rows:
            nc = math.sqrt(fdot(cent, cent))
            c_cos = fdiv(fdot(qe, cent), nq * nc)
            scored.append((cell, cent, c_cos))
        # row_number over (desc c_cos, asc cell); NaN ranks greatest
        scored.sort(key=lambda t: (not math.isnan(t[2]),
                                   -t[2] if not math.isnan(t[2]) else 0.0,
                                   t[0]))
        for cell, cent, _ in scored[:n_probe]:
            res = [x - c for x, c in zip(qe, cent)]
            for m in range(n_subspaces):
                sv = res[m * sd:(m + 1) * sd]
                for code, cv in by_m.get(m, ()):
                    d2 = 0
                    for x, y in zip(sv, cv):
                        diff = x - y
                        d2 += int(Decimal(repr(diff * diff * quant))
                                  .quantize(one, rounding=ROUND_HALF_UP))
                    out.append((qid, cell, m, code, d2))
    return out


def knn_ivfpq_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    include_streamed: bool = False,
    candidate_filter=None,
) -> DataFrame:
    """ADC search against a PERSISTED residual IVF-PQ index
    (``sources.sinks.write_ivfpq_index``): centroids and codebook come
    from the session model cache (one bounded fetch per index), queries
    are ranked against the centroids exactly, and the candidate scan
    reads ONLY the probed cell partitions of the codes table — a STATIC
    partition filter (the probed cells are known at planning time from
    the driver-materialized LUT), M bytes per candidate from
    n_probe/n_cells of the directories, the fully-bounded disk path.
    Bit-identical to :func:`knn_ivf_pq_residual` on the same corpus:
    centroid/codebook doubles, byte codes, and int64 LUT distances all
    round-trip parquet exactly. Geometry (M, subdim) is derived from
    the stored codebook; every query row's embedding length is checked
    in-plan against it (shared `_guard_embedding_dim` raise_error —
    NULL embeddings pass through and are dropped).

    ``include_streamed`` also searches the codes appended by the
    streaming maintenance sink (``streaming.index_sink``), whose
    batch-stamped dirs are likewise cell-partitioned; each side is
    pruned to the probed cells BEFORE the union so the streamed tail
    never widens the base scan.

    ``candidate_filter`` (a Column predicate over the index's metadata
    sidecar, written via ``write_ivfpq_index(meta_cols=...)``) restricts
    candidates BEFORE ADC ranking — filtered vector search served from
    disk: the sidecar scan is pruned to the same probed cells, the
    predicate pushes into its parquet scan, and the surviving
    (vec_id, cell) keys semi-join the codes. Mutually exclusive with
    ``include_streamed`` (appended codes have no sidecar rows; silently
    excluding them would be a correctness trap, so the combination
    raises)."""
    if candidate_filter is not None and include_streamed:
        raise ValueError(
            "candidate_filter with include_streamed is not supported: "
            "streamed-appended codes carry no metadata sidecar rows and "
            "would be silently excluded from a filtered search"
        )
    cb_rows, cent_rows = _index_models(spark, index_path)
    if not cb_rows:  # empty index (empty corpus at write time)
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc_d2 long"
        )
    n_subspaces = cb_rows[-1][0] + 1
    sd = max(len(r[2]) for r in cb_rows)
    dim = n_subspaces * sd
    packed = spark.read.parquet(f"{index_path}/codes")

    # Probe ranking + ADC LUT computed DRIVER-SIDE (_adc_lut_driver):
    # queries are a broadcast-sized frame by contract (the knn_bruteforce
    # convention), so fetching them is a bounded model-sized collect, and
    # the |Q|·n_probe·M·K LUT costs microseconds of float math vs ~2 s of
    # per-call Catalyst construction+analysis for the equivalent in-plan
    # expression tree. This collapses the serve plan to ONE big-side job
    # (scan → broadcast join → agg → top-k) and, because the probed cells
    # are now known at PLANNING time, upgrades the partition pruning from
    # a runtime DPP subquery to a static partition filter on the hive
    # `cell` column — the scan never even lists unprobed dirs.
    q_rows = queries.select("vec_id", "embedding").collect()
    lut_rows = _adc_lut_driver(q_rows, cent_rows, cb_rows, n_probe,
                               n_subspaces, sd, dim)
    if not lut_rows:  # no valid queries
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc_d2 long"
        )
    lut_local = spark.createDataFrame(
        lut_rows, "query_id bigint, cell int, m int, code bigint, "
                  "lut_d2 bigint")
    probe_cells = sorted({r[1] for r in lut_rows})
    pruned = packed.where(F.col("cell").isin(probe_cells))
    if include_streamed:
        from bigdata2016w_spark.streaming.index_sink import (
            read_streamed_codes,
        )

        # prune the streamed scan separately (a filter above a Union
        # still pushes into both parquet scans, but keep the sides
        # explicit for plan readability), then union
        pruned = pruned.unionByName(
            read_streamed_codes(spark, index_path)
            .where(F.col("cell").isin(probe_cells))
            .select(*pruned.columns)
        )
    if candidate_filter is not None:
        # pruned sidecar scan → predicate pushdown → semi-join the codes
        # on (vec_id, cell): the code rows never widen past the filter
        allowed = (
            spark.read.parquet(f"{index_path}/meta")
            .where(F.col("cell").isin(probe_cells))
            .where(candidate_filter)
            .select("vec_id", "cell")
        )
        pruned = pruned.join(allowed, ["vec_id", "cell"], "left_semi")
    codes = pruned.select(
        "vec_id", "cell", F.posexplode("codes").alias("m", "code")
    ).select("vec_id", "cell", "m",
             F.col("code").cast("bigint").alias("code"))
    adc = (
        codes.join(broadcast(lut_local), ["cell", "m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )
    return topk_per_group(
        adc, ["query_id"], [F.asc("adc_d2"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "adc_d2")


def knn_ivfpq_rerank_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    rerank_factor: int = 3,
    n_probe: int = 4,
    include_streamed: bool = False,
    candidate_filter=None,
) -> DataFrame:
    """Two-stage ANN served from the PERSISTED index — the production
    composition of :func:`knn_ivfpq_from_index` (stage 1: ADC shortlist
    of k·``rerank_factor`` candidates from code bytes in the probed cell
    directories, optionally including the streaming sink's appended
    codes) and :func:`knn_ivf_pq_rerank`'s refinement (stage 2: exact
    cosine over ONLY the shortlist rows, broadcast against the raw
    ``embeddings`` table — |Q|·k·factor rows of float traffic at any
    corpus size; a production deployment would point-look-up the
    shortlist ids in a keyed store). Returns (query_id, vec_id, cosine),
    k rows per query, ties → lowest vec_id — bit-identical to
    :func:`knn_ivf_pq_rerank` under the same frozen models (pinned in
    tests), because the persisted code bytes and LUT arithmetic
    round-trip parquet exactly.

    ``candidate_filter`` threads through to the stage-1 shortlist (the
    sidecar semi-join of :func:`knn_ivfpq_from_index`), so the exact
    rerank only ever sees predicate-satisfying rows — filtered
    two-stage search at the same |Q|·k·factor stage-2 cost."""
    short = knn_ivfpq_from_index(
        spark, index_path, queries, k * rerank_factor, n_probe,
        include_streamed=include_streamed,
        candidate_filter=candidate_filter,
    ).select("query_id", "vec_id")
    e = embeddings.where(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    )
    q = queries.where(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    rer = (
        e.join(broadcast(short), "vec_id")
        .join(broadcast(q), "query_id")
        .select(
            "query_id", "vec_id",
            cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
        )
    )
    return topk_per_group(
        rer, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k
    ).select("query_id", "vec_id", "cosine")


def embedding_cross_near_dupes(
    index: DataFrame,
    probe: DataFrame,
    threshold: float = 0.4,
    num_planes: int | None = None,
    dim: int = 64,
    n_index: int | None = None,
) -> DataFrame:
    """Cross-corpus embedding near-dup pairs: for each PROBE vector, the
    INDEX vectors with cosine ≥ threshold — the embedding analogue of
    ``dedup.jaccard_cross_near_dupes`` (probe-vs-index only, never
    intra-side). Returns (probe_id, index_id, cosine).

    Blocking is the same fixed-hyperplane sign bucketing as
    :func:`embedding_near_dupes`, with 1-bit multiprobe on the PROBE
    side (the knn_lsh recall insurance — a boundary flip between two
    near-identical vectors otherwise hides the pair): candidates =
    index rows in any of the probe's P+1 buckets. Plane count is sized
    off the INDEX cardinality (adaptive_num_planes) so per-bucket
    occupancy — and the verify join — stays linear as the accepted
    corpus grows; at cluster scale pass ``n_index`` from a catalog
    statistic instead of the count() fallback."""
    if num_planes is None:
        if n_index is None:
            n_index = index.count()
        num_planes = adaptive_num_planes(max(n_index, 1))
    planes = _planes(dim, num_planes)
    # sign buckets via the Arrow/NumPy kernel; verification cosine via
    # the pair kernel (r12, guide §4.2) — bit-equal to the former
    # HOF bucket chain + precomputed-norm cosine
    ix = _lsh_bucketed(index, planes, ["vec_id", "embedding"]).select(
        F.col("vec_id").alias("index_id"),
        F.col("embedding").alias("i_emb"),
        "bucket",
    )
    pb = _lsh_bucketed(
        probe, planes, ["vec_id", "embedding"], alias="__b"
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.explode(
            F.array(
                F.col("__b"),
                *[F.col("__b").bitwiseXOR(F.lit(1 << i))
                  for i in range(num_planes)],
            )
        ).alias("bucket"),
    )
    joined = pb.join(ix, "bucket").select(
        "probe_id", "index_id", "p_emb", "i_emb"
    )
    schema = T.StructType(
        [joined.schema[c] for c in ("probe_id", "index_id")]
        + [T.StructField("cosine", T.DoubleType())]
    )
    return (
        joined.mapInPandas(
            np_pair_cosine_fn("p_emb", "i_emb", ["probe_id", "index_id"]),
            schema,
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def ivf_probe_recall_sweep(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    probes: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """(n_probe, n_queries, total_hits, avg_recall): recall@k of the
    seed-centroid IVF (:func:`knn_ivf_flat`) at several probe depths in
    ONE candidate pass — the tuning curve that picks n_probe for a
    recall target, at roughly the cost of a single search.

    Every vector lives in exactly one cell, so a candidate's probe
    rank ``pr`` (the rank of its cell in the query's centroid-cosine
    order) is unique per (query, candidate); candidates are generated
    once at max(probes) and each threshold is a FILTER over the same
    ranked set, never a re-scan. Ground truth is the brute-force top-k
    (the oracle tier); recall = hits/(k·|Q|) as a single division of
    exact int64 counts."""
    max_p = max(probes)
    spark = embeddings.sparkSession
    embeddings = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(embeddings, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "n_probe int, n_queries bigint, total_hits bigint,"
                " avg_recall double"
        )
    # checkpoint: the assignment kernel feeds both the query side and
    # the candidate side of the probe join (r12, the semdedup
    # shared-intermediate convention); the ground truth below likewise
    # feeds the hit join and the |Q| aggregate
    assigned = _assign_to_literal_centroids(
        embeddings, cent_lit
    ).localCheckpoint(eager=False)
    cent = spark.createDataFrame(cent_lit, "cell int, centroid array<double>")
    cands = _probe_candidates(assigned, cent, query_ids, max_p)
    thresholds = spark.createDataFrame(
        [(t,) for t in sorted(probes)], "n_probe int"
    )
    per_t = cands.join(
        broadcast(thresholds), F.col("pr") <= F.col("n_probe")
    )
    ranked = topk_per_group(
        per_t, ["n_probe", "query_id"],
        [F.desc("cosine"), F.asc("vec_id")], k,
    ).select("n_probe", "query_id", "vec_id")

    truth = knn_bruteforce(embeddings, query_ids, k).select(
        "query_id", "vec_id"
    ).localCheckpoint(eager=False)
    hits = ranked.join(truth, ["query_id", "vec_id"]).groupBy(
        "n_probe"
    ).agg(F.count("*").alias("total_hits"))
    # |Q| stays an in-plan broadcast 1-row aggregate (the PageRank
    # dangling-mass convention), not a driver-side count
    nq = truth.agg(
        F.count_distinct("query_id").alias("n_queries")
    )
    th = F.coalesce(F.col("total_hits"), F.lit(0).cast("long"))
    return (
        broadcast(thresholds)
        .join(hits, "n_probe", "left")
        .crossJoin(broadcast(nq))
        .select(
            "n_probe",
            "n_queries",
            th.alias("total_hits"),
            (th.cast("double")
             / (F.col("n_queries") * k).cast("double")).alias("avg_recall"),
        )
        .orderBy("n_probe")
    )
