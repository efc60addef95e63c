"""Similarity search over embedding columns — pipeline extension.

Every kNN variant is one pipeline of shared stages (see the section at
the end of this module): queries → optional coarse quantizer (LSH sign
buckets, MLlib KMeans, seed or exact Lloyd centroids) → probe → score
(exact cosine, global PQ, or residual PQ) → two-stage top-k → optional
exact rerank. ``knn`` runs it over an in-memory corpus, ``knn_from_index``
over a persisted index.

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
from bigdata2016w_spark.streaming.batches import exists

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


def _pair_cosine(joined: DataFrame, a_col: str, b_col: str,
                 keep) -> DataFrame:
    """(*keep, cosine) over an already-joined pair frame, evaluated by
    the Arrow/NumPy pair kernel (``np_kernels.pair_cosine_fn``) instead
    of interpreted HOF folds — same bits as :func:`cosine` (left-fold
    dots, IEEE sqrt/division), a NULL or length-mismatched pair yields a
    NULL cosine that sorts last, a zero denominator raises (ANSI). The
    pass is map-side-only, so it runs right after the join that made the
    pairs."""
    keep = list(keep)
    schema = T.StructType(
        [joined.schema[c] for c in keep]
        + [T.StructField("cosine", T.DoubleType())]
    )
    return joined.mapInPandas(np_pair_cosine_fn(a_col, b_col, keep), schema)


def hard_negatives(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-cosine-similar vectors with a DIFFERENT label — the
    negatives most likely to confuse a classifier.

    Same scan shape as exact :func:`knn` (broadcast anchors, one corpus
    pass, two-stage top-k; the corpus never shuffles), plus the
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
    pairs = _pair_cosine(joined, "q_emb", "embedding",
                         ["query_id", "anchor_label", "vec_id", "neg_label"])
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


def _assign_to_literal_centroids(
    embeddings: DataFrame,
    cent_lit: list[tuple[int, list[float]]],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Map-side max-cosine cell assignment against a broadcast centroid
    matrix — the assignment half of the ``"seed"`` and ``"lloyd"``
    coarse stages (see :func:`_coarse`).

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


def _lloyd_fit(
    e: DataFrame, n_cells: int, n_iter: int
) -> list[tuple[int, list[float]]]:
    """The seed centroids of the checked corpus ``e`` (:func:`_checked`)
    refined by ``n_iter`` exact-arithmetic Lloyd rounds (empty cells
    drop out); empty on an empty corpus. Each round: map-side
    max-cosine assignment against the literal matrix, then ONE
    (cell, dim) hash agg of quantized means (:func:`_quantized_means`,
    the label_centroids formula), so the DuckDB oracles replay the fit
    as unrolled CTE rounds. n_cells × dim rows per round cross the
    driver: the model-fetch sync, same O(1)-per-round class as
    PageRank's dangling mass. Every round re-reads ``e``: a caller that
    fits over a parquet scan and reuses the corpus afterwards passes
    :func:`validated_embeddings`' materialization instead."""
    cent_lit = _seed_centroid_literals(e, n_cells)
    if not cent_lit:
        return []
    for _ in range(n_iter):
        cent_lit = _mean_literals(
            _assign_to_literal_centroids(e, cent_lit), "cell"
        )
    return cent_lit


def validated_embeddings(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """The (vec_id, embedding) corpus projection, NULL-filtered and
    checked (:func:`_checked`), materialized ONCE via localCheckpoint.

    A pipeline that runs several ANN tiers over one corpus shares this
    materialization (``plans.pipeline._shared_valid_embeddings``): every
    tier then reads checkpointed blocks instead of re-scanning parquet,
    and a bad row fails here, at validation time, where the error
    belongs. Each tier's own entry check then passes every row."""
    return (
        _checked(embeddings, dim)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )


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
    return (
        _pair_cosine(joined, "a_emb", "b_emb", ["vec_a", "vec_b"])
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


# centroid quantum: embeddings are float32 (~7 significant digits); scaling
# by 2^24 and rounding to int64 makes per-dimension sums order-independent
# (exact integer math) while preserving more precision than the input has
CENTROID_QUANT = 1 << 24


def _quantized_means(
    df: DataFrame, keys: list[str], vec: str, pos: str = "dim",
    mean: str = "c", n: str = "n",
) -> DataFrame:
    """(*keys, pos, mean, n): the per-key, per-dimension mean of the
    array column ``vec`` — posexplode, sum of components quantized to
    int64 at CENTROID_QUANT, one hash aggregate with map-side combine,
    rounded to 6 decimals. Quantization before the sum makes the mean
    bit-identical across partitionings and engines (a raw float sum is
    neither associative nor portable), which is what lets the DuckDB
    oracles replay every centroid and codeword fit exactly. Output
    cardinality is keys × dims regardless of corpus size."""
    q = F.round(F.col("x").cast("double") * CENTROID_QUANT).cast("bigint")
    return (
        df.select(*keys, F.posexplode(vec).alias(pos, "x"))
        .groupBy(*keys, pos)
        .agg(F.sum(q).alias("s"), F.count("*").alias(n))
        .select(
            *keys, pos,
            F.round(
                F.col("s").cast("double") / F.col(n) / CENTROID_QUANT, 6
            ).alias(mean),
            n,
        )
    )


def _mean_literals(
    df: DataFrame, key: str, vec: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Sorted ``[(key, mean vector)]`` literals of the quantized means of
    ``vec`` per ``key`` — keys × dims rows fetched to the driver (a
    model fetch)."""
    by_key: dict[int, dict[int, float]] = {}
    for r in _quantized_means(df, [key], vec).collect():
        by_key.setdefault(int(r[key]), {})[int(r["dim"])] = float(r["c"])
    return sorted(
        (cell, [vals[d] for d in range(len(vals))])
        for cell, vals in by_key.items()
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding column as (label, dim,
    centroid, n_vectors) rows — the class-prototype operator behind
    nearest-centroid classification and per-class drift monitoring;
    the quantized mean of :func:`_quantized_means` per (label, dim)."""
    return _quantized_means(embeddings, ["label"], "embedding",
                            mean="centroid", n="n_vectors")


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
# from the K lowest vec_ids (the ``"seed"`` coarse convention) and take
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
) -> DataFrame:
    """(*keep, m, sv): the M contiguous sub-vectors of each embedding of
    a checked frame (:func:`_checked`, or a residual frame derived from
    one) — one explode per input row, so all M rows of a vector stay in
    the producing partition (downstream per-vector partial aggs combine
    map-side). ``dim`` must split evenly — a remainder would silently
    vanish from every distance."""
    if dim % n_subspaces:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces} — "
            f"the trailing {dim % n_subspaces} dimensions would be "
            "silently dropped from all PQ distances"
        )
    sd = dim // n_subspaces
    return embeddings.select(
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
) -> DataFrame:
    """Per-subspace PQ codebook (m, code, cv array<double>) as a literal
    DataFrame (see :func:`_pq_codebook_literal`).

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
    return _pq_codebook_literal(
        _checked(embeddings, dim), n_codes, n_subspaces, dim, train_n,
        init_offset, n_steps,
    )


def _pq_codebook_literal(
    e: DataFrame, n_codes: int, n_subspaces: int, dim: int,
    train_n: int = PQ_TRAIN_N, init_offset: int = 0, n_steps: int = 1,
) -> DataFrame:
    """:func:`pq_codebook` over the checked frame ``e``, trained and
    re-shipped as a literal DataFrame: M·K rows fetched to the driver
    once (a model fetch, like the IVF centroid syncs). Inlining the
    multi-stage training plan instead would re-execute it once per
    broadcast consumer."""
    if init_offset + n_codes > train_n:
        raise ValueError(
            f"init window [{init_offset}, {init_offset + n_codes}) exceeds "
            f"the training sample vec_id < {train_n}"
        )
    sub = _pq_subvectors(e.where(F.col("vec_id") < train_n), n_subspaces, dim)
    cur = sub.where(
        (F.col("vec_id") >= init_offset)
        & (F.col("vec_id") < init_offset + n_codes)
    ).select(
        "m", (F.col("vec_id") - init_offset).alias("code"),
        F.col("sv").alias("cv"),
    )
    for _ in range(n_steps):
        cur_g = cur.groupBy("m").agg(
            F.sort_array(F.collect_list(F.struct("code", "cv"))).alias("cws")
        )
        assigned = sub.join(broadcast(cur_g), "m").select(
            "m",
            _argmin_code(F.col("cws"), F.col("sv")).alias("code"),
            "sv",
        )
        per_dim = _quantized_means(assigned, ["m", "code"], "sv", pos="d")
        cur = per_dim.groupBy("m", "code").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "c"))),
                lambda t: t["c"],
            ).alias("cv")
        )
    return e.sparkSession.createDataFrame(
        [(int(r["m"]), int(r["code"]), [float(x) for x in r["cv"]])
         for r in cur.collect()],
        "m int, code bigint, cv array<double>",
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    dim: int = 64,
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """(*keep, m, code): each vector's per-subspace nearest-codeword id —
    map-side argmin against the frozen codebook, zero corpus shuffle.
    This is the table a 100-TB deployment persists instead of raw
    embeddings. ``keep`` lets a caller thread extra per-vector columns
    through the one corpus pass. See :func:`_pq_encode`."""
    return _pq_encode(_checked(embeddings, dim), codebook, n_subspaces,
                      dim, keep)


def _pq_encode(
    e: DataFrame, codebook: DataFrame, n_subspaces: int, dim: int,
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """:func:`pq_encode` over the checked frame ``e``.

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
    src = e.select(*keep, "embedding")
    code_t = codebook.schema["code"].dataType
    schema = T.StructType(
        [src.schema[c] for c in keep]
        + [T.StructField("m", T.IntegerType()),
           T.StructField("code", code_t)]
    )
    return src.mapInPandas(
        np_encode_pq_fn(cb_rows, n_subspaces, dim, keep), schema
    )


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


def _seed_centroid_literals(
    embeddings: DataFrame, n_cells: int
) -> list[tuple[int, list[float]]]:
    """The ``"seed"`` coarse quantizer (:func:`_coarse`): the
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

    Shape: cell assignment is the ``"seed"`` coarse stage of :func:`knn`
    (the n_cells lowest vec_ids — an O(n_cells)-row model fetch, no
    training shuffle); the pair search
    is a self-equi-join on cell, so candidate count is Σ|cell|² — at
    100 TB, n_cells scales with the corpus to hold |cell| roughly
    constant and the join keys stay well-distributed. The witness argmax
    is max(struct(...)) — planned as a partial+final SortAggregate pair
    (struct buffers aren't hash-aggregable; the sorts are per-partition
    and spillable, and the partial max runs map-side before the
    exchange) — not a window over an unbounded partition.
    """
    e = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(e, n_cells)
    if not cent_lit:
        return e.sparkSession.createDataFrame(
            [], "dropped_id long, cell int, witness_id long, cosine double"
        )
    assigned = _assigned(e, cent_lit)
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
    # the ≥ threshold filter stays in Spark so NULL/NaN comparison
    # semantics are unchanged
    pairs = _pair_cosine(
        joined, "w_emb", "d_emb", ["dropped_id", "cell", "witness_id"]
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
    e: DataFrame,
    cent_lit: list[tuple[int, list[float]]],
    codebook: DataFrame,
    n_subspaces: int,
    dim: int,
    residual: bool,
) -> DataFrame:
    """(vec_id, cell, m, code) of the checked frame ``e``: the IVF-PQ
    tiers' whole per-row corpus pipeline — max-cosine cell assignment,
    optional residual shift against the assigned centroid (the IVFPQ
    decomposition, Jégou et al., TPAMI'11 §III), PQ nearest-codeword
    encoding — as ONE Arrow-batched NumPy pass
    (np_kernels.assign_encode_fn). The one producer of residual codes:
    ``knn`` scores them in memory and the ``sources.sinks`` writers pack
    and persist them. Map-side-only, so nothing changes at scale; the
    two models ship in the closure (the literal-broadcast
    convention)."""
    cb_rows = [
        (int(r["m"]), int(r["code"]), [float(x) for x in r["cv"]])
        for r in codebook.collect()
    ]
    src = e.select("vec_id", "embedding")
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


_DIM_ERROR = (" does not match the PQ geometry (dim = {dim}) "
              "or the vector carries NULL elements")


def _guard_embedding_dim(dim: int, col: str = "embedding"):
    """In-plan per-row validity check for an embedding column: pass NULL
    through (callers drop it), raise on a length mismatch OR a NULL
    element. The NULL case rides inside the when condition, not only an
    upstream filter, because Catalyst may collapse the projection with a
    consumer and evaluate it on pre-filter rows.

    Without it a short vector fails silently: its ``slice`` sub-vectors
    NULL out every PQ distance term and sort FIRST in the argmin, and a
    residual ``zip_with`` NULL-pads it to full length, so it encodes to
    the lowest codeword and surfaces as a fake neighbor; in a Lloyd fit
    its missing dimensions drop out of the quantized means. The
    NULL-element raise is the kernel contract (np_kernels module doc):
    Arrow turns a NULL list element into NaN before a pandas kernel can
    see it, so NULL elements are indistinguishable from NaN past this
    point."""
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
                F.lit(_DIM_ERROR.format(dim=dim)),
            )
        )
    )


def _checked(embeddings: DataFrame, dim: int) -> DataFrame:
    """``embeddings`` with NULL rows dropped (the DuckDB oracles drop
    them structurally) and every other row passed through
    :func:`_guard_embedding_dim` — the one check of the geometry-bound
    tier, applied once where a public entry receives its frame. The
    private stages take checked frames and never guard."""
    return embeddings.where(F.col("embedding").isNotNull()).withColumn(
        "embedding", _guard_embedding_dim(dim))


def lloyd_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iter: int = 2,
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Seed centroids Lloyd-refined over the (NULL-filtered) corpus in
    EXACT arithmetic — the ``"lloyd"`` coarse stage of :func:`knn`, the
    DuckDB-oracle-verified twin of the MLlib ``"kmeans"`` stage (the way
    sgd_score_closed_form twins sgd_scores). Init seeds the ``n_cells``
    lowest-vec_id embeddings; each of ``n_iter`` rounds is a map-side
    max-cosine assignment against the literal centroid matrix (no corpus
    shuffle, no row expansion) plus one hash agg of quantized means, and
    empty cells drop out (:func:`_lloyd_fit`). Because every step is
    closed-form, the oracle replays the fit as ``n_iter`` unrolled CTE
    rounds (the PageRank oracle trick) and the probe search bit-matches.

    Exposed as a model literal so the residual-PQ tier can train, encode
    and probe against the SAME centroids without re-fitting per
    consumer. Refinement matters for the residual formulation
    specifically: a seed centroid is an arbitrary member of its cell, so
    residuals against it carry MORE variance than the raw vectors
    (x − c with near-independent c roughly doubles it) and residual PQ
    would quantize worse than global PQ — measured on the synthetic
    fixtures before this trainer existed. Against the Lloyd cell MEAN,
    residual variance is the within-cell variance — strictly the part
    the coarse quantizer didn't explain. Scale: n_iter × (map-side
    assignment + one hash agg), n_cells·dim driver rows per round; a
    production deployment persists the result (write_ivfpq_index)
    instead of re-fitting per query."""
    return _lloyd_fit(_checked(embeddings, dim), n_cells, n_iter)


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
) -> DataFrame | None:
    """Train the residual PQ codebook (the ``"residual_pq"`` model) as
    a literal DataFrame, or None on an empty corpus. The coarse
    :func:`lloyd_centroids` fit is the one corpus-sized pass (pass
    ``centroids`` to reuse an existing fit); see
    :func:`_residual_codebook` for the codebook itself."""
    e = _checked(embeddings, dim)
    cent_lit = (centroids if centroids is not None
                else _lloyd_fit(e, n_cells, n_iter))
    if not cent_lit:
        return None
    return _residual_codebook(e, cent_lit, n_cells, n_codes, n_subspaces,
                              dim, train_n, n_steps)


def _residual_codebook(
    e: DataFrame, cent_lit, n_cells: int, n_codes: int, n_subspaces: int,
    dim: int, train_n: int = PQ_TRAIN_N, n_steps: int = PQ_RES_STEPS,
) -> DataFrame:
    """:func:`residual_pq_codebook` of the checked frame ``e`` against
    the centroid literals ``cent_lit``. The training reads ONLY
    vec_id < train_n (the filter pushes below the assignment map to the
    scan) — O(train_n·M·K·n_steps) at any corpus size. Each training
    vector is replaced by its residual against its assigned cell's
    centroid (broadcast centroid join + one zip_with, map-side;
    float→double per-dim subtraction is IEEE-exact on both engines).
    Residual sub-vectors carry less structure than raw ones (the cluster
    component is already subtracted), so the codebook takes
    ``n_steps`` = 2 Lloyd steps where the global codebook converges
    usefully in 1 — measured on the fixtures: 1 step leaves residual
    recall below global, 2 steps puts it at-or-above at every SF. Init
    codewords come from the id window starting at ``n_cells`` so a
    degenerate (n_iter=0) quantizer — whose seed-centroid residuals are
    all-zero vectors — can never seed every codeword identically (see
    pq_codebook's init_offset note)."""
    bounded = e.where(F.col("vec_id") < train_n)
    res = _assign_to_literal_centroids(bounded, cent_lit).join(
        broadcast(_centroid_frame(e.sparkSession, cent_lit)), "cell"
    ).select(
        "vec_id", "cell",
        F.zip_with(
            "embedding", "centroid", lambda x, c: x.cast("double") - c,
        ).alias("embedding"),
    )
    return _pq_codebook_literal(res, n_codes, n_subspaces, dim,
                                init_offset=n_cells, n_steps=n_steps)


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
    """Driver-side twin of the ``"residual_pq"`` stage's in-plan probe
    and LUT (:func:`knn`), used by :func:`knn_from_index`:
    (query_id, cell, m, code, lut_d2) rows for every query × probed cell
    × codeword — |Q|·n_probe·M·K rows of MODEL-sized work (microseconds
    of float math), never corpus-sized. Exists because building the
    equivalent Catalyst expression tree (window + zip_with folds + M
    subvector slices) cost ~2 s of Py4J construction + fresh-plan
    analysis PER CALL — two orders of magnitude more than the arithmetic
    itself — which dominated the serve path.

    Bit-parity contract with the in-plan arithmetic (pinned by
    test_index_roundtrip_matches_inmemory[ivfpq] and the driver gate):
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
    rounding can never diverge. A query of the wrong length or with a
    NULL element raises the in-plan guard's error text
    (:func:`_guard_embedding_dim`), checked here on the driver."""
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
        if len(emb) != dim or any(x is None for x in emb):
            # the _guard_embedding_dim contract and error text
            raise ValueError(
                f"embedding length {len(emb)}{_DIM_ERROR.format(dim=dim)}"
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
    side (:func:`_multiprobe` — a boundary flip between two
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
        F.explode(_multiprobe(F.col("__b"), num_planes)).alias("bucket"),
    )
    joined = pb.join(ix, "bucket").select(
        "probe_id", "index_id", "p_emb", "i_emb"
    )
    return (
        _pair_cosine(joined, "p_emb", "i_emb", ["probe_id", "index_id"])
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
    seed-centroid IVF (``knn(coarse="seed")``) at several probe depths in
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
    e = embeddings.where(F.col("embedding").isNotNull())
    cent_lit = _seed_centroid_literals(e, n_cells)
    if not cent_lit:
        return spark.createDataFrame(
            [], "n_probe int, n_queries bigint, total_hits bigint,"
                " avg_recall double"
        )
    assigned = _assigned(e, cent_lit)
    cands = _flat_scores(
        broadcast(_probe(_queries(assigned, query_ids), cent_lit, max_p)),
        assigned, "cell", ("pr",),
    )
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

    # checkpoint: the ground truth feeds the hit join and the |Q| aggregate
    truth = knn(e, query_ids, k).select(
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


# --- The kNN pipeline -----------------------------------------------------
#
# queries → [coarse quantizer] → probe → score → top-k → [exact rerank].
# Each stage below has one implementation; ``knn`` composes them over an
# in-memory corpus and ``knn_from_index`` over a persisted index. Every
# stage keeps the query set broadcast and the corpus on the build side
# of its joins, so no stage shuffles the corpus itself: the only
# exchanges are the skinny per-candidate rows into the two-stage top-k
# (REPOSE-style prune-then-verify, the pruning done by cell or bucket).


def _queries(df: DataFrame, query_ids: list[int] | None = None,
             *extra) -> DataFrame:
    """(query_id, q_emb, *extra): the query rows of ``df`` (all of them
    when ``query_ids`` is None). Queries resolve against the UNfiltered
    corpus — a query need not satisfy a candidate filter."""
    if query_ids is not None:
        df = df.where(F.col("vec_id").isin(*query_ids))
    return df.select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("q_emb"), *extra)


def _empty(spark, score: str) -> DataFrame:
    """The typed empty result of a search over an empty corpus/index."""
    typ = "double" if score == "cosine" else "long"
    return spark.createDataFrame(
        [], f"query_id long, vec_id long, {score} {typ}")


def _centroid_frame(spark, cent_lit) -> DataFrame:
    """(cell, centroid): the n_cells-row literal centroid table."""
    return spark.createDataFrame(cent_lit, "cell int, centroid array<double>")


def _multiprobe(bucket: Column, num_planes: int) -> Column:
    """The bucket plus every bucket one sign bit away — the 1-bit
    multiprobe that insures LSH recall against boundary flips."""
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << i))
                             for i in range(num_planes)])


def _kmeans_assigned(e: DataFrame, n_cells: int):
    """The ``"kmeans"`` coarse stage: (assigned, centroid literals) from an
    MLlib KMeans fit, keeping ``model.transform``'s assignment — the
    recall-quality quantizer; ``"lloyd"`` is its oracle-replayable twin.
    Random init: a coarse quantizer needs spread, not kmeans||'s extra
    O(iterations) init jobs — measured 6.2 s → 1.5 s on the fit with
    recall unchanged (gated by test_ann_ivf_recall)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = e.select(
        "vec_id", "embedding",
        array_to_vector(_as_double(F.col("embedding"))).alias("f"),
    ).cache()  # KMeans iterates; uncached it re-scans parquet per iteration
    model = KMeans(
        k=n_cells, seed=LSH_SEED, maxIter=10, initMode="random",
        featuresCol="f", predictionCol="cell",
    ).fit(feat)
    assigned = (
        model.transform(feat)
        .select("vec_id", "embedding", "cell")
        .localCheckpoint(eager=True)  # consumed twice (probe + scan join)
    )
    feat.unpersist()
    return assigned, [(i, [float(x) for x in c])
                      for i, c in enumerate(model.clusterCenters())]


def _coarse(e: DataFrame, coarse: str, n_cells: int, n_iter: int,
            centroids) -> list[tuple[int, list[float]]]:
    """Centroid literals of the closed-form coarse stages: ``"seed"``
    (the n_cells lowest vec_ids, no training pass) or ``"lloyd"``
    (:func:`_lloyd_fit`); ``centroids`` reuses an existing fit.
    Empty on an empty corpus. Both are collected once at plan build —
    n_cells driver rows, like fetching a trained model — so assignment
    (:func:`_assigned`) is a pure projection with the matrix baked in,
    and a DuckDB oracle replays the whole pipeline exactly."""
    if centroids is not None:
        return centroids
    if coarse == "lloyd":
        return _lloyd_fit(e, n_cells, n_iter)
    return _seed_centroid_literals(e, n_cells)


def _assigned(e: DataFrame, cent_lit, keep: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, embedding, *keep, cell): the inverted file — every vector
    in its max-cosine cell (ties → lowest cell, the oracle's
    ``ORDER BY a_cos DESC, cell ASC``), map-side, NO shuffle and NO row
    expansion of the corpus. At 100 TB it is written bucketed by cell
    (``sources.sinks.write_ivf_index``) so a probe reads only its
    buckets. Checkpointed because it feeds both the query side and the
    candidate side of the probe join (or both sides of a self-join):
    computed once, read twice."""
    return _assign_to_literal_centroids(e, cent_lit, keep).localCheckpoint(
        eager=False
    )


def _probe(q: DataFrame, cent_lit, n_probe: int, *cols: str) -> DataFrame:
    """(query_id, q_emb, cell, pr, *cols): each query's ``n_probe``
    nearest cells by exact cosine to the centroid, with their probe rank
    ``pr`` (ties → lowest cell). ``pr`` is unique per (query, candidate)
    because a vector lives in exactly one cell — the property the probe
    sweep's threshold slicing relies on. ``cols`` carries centroid
    columns (the residual stage's ``centroid``). The query × centroid
    table is broadcast-sized; scan fraction ≈ n_probe/n_cells."""
    w = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cell"))
    cent = _centroid_frame(q.sparkSession, cent_lit)
    return (
        broadcast(q)
        .crossJoin(broadcast(cent))
        .select(
            "query_id", "q_emb", "cell", *cols,
            cosine(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn("pr", F.row_number().over(w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "q_emb", "cell", "pr", *cols)
    )


def _flat_scores(q: DataFrame, cand: DataFrame, on: str | None = None,
                 extra: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, vec_id, *extra, cosine): the ``"flat"`` score stage —
    exact cosine of every (query, candidate) pair of the broadcast query
    frame ``q`` joined to the corpus side ``cand`` (cross join, or an
    equi-join on the bucket/cell column ``on``), self excluded."""
    joined = q.crossJoin(cand) if on is None else q.join(cand, on)
    return _pair_cosine(
        joined.where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", *extra, "q_emb", "embedding"),
        "q_emb", "embedding", ["query_id", "vec_id", *extra],
    )


def _topk(pairs: DataFrame, score: str, k: int) -> DataFrame:
    """(query_id, vec_id, score): the two-stage top-k per query — highest
    cosine or smallest ADC distance first, ties → lowest vec_id."""
    order = F.desc(score) if score == "cosine" else F.asc(score)
    return topk_per_group(
        pairs, ["query_id"], [order, F.asc("vec_id")], k
    ).select("query_id", "vec_id", score)


def _ivf_search(assigned: DataFrame, cent_lit, q: DataFrame, k: int,
                n_probe: int, corpus: DataFrame | None = None) -> DataFrame:
    """Probe → flat score → top-k over an inverted file. ``corpus`` (by
    default ``assigned``) is the candidate side of the cell join — the
    filtered tier passes a predicate-restricted view here."""
    pairs = _flat_scores(
        broadcast(_probe(q, cent_lit, n_probe)),
        assigned if corpus is None else corpus, "cell", ("pr",),
    )
    return _topk(pairs.select("query_id", "vec_id", "cosine").distinct(),
                 "cosine", k)


def _lut(qsub: DataFrame, cb: DataFrame, *keys) -> DataFrame:
    """(*keys, m, code, lut_d2): the ADC lookup table — exact query
    sub-vectors against every codeword of their subspace, integer-exact
    :func:`pq_d2`. |Q|·M·K rows (× n_probe for the residual stage): the
    broadcast side of the ADC join."""
    return qsub.join(broadcast(cb), "m").select(
        *keys, "m", "code", pq_d2(F.col("sv"), F.col("cv")).alias("lut_d2")
    )


def _adc_topk(codes: DataFrame, lut: DataFrame, on: list[str],
              k: int) -> DataFrame:
    """The ``"pq"``/``"residual_pq"`` score stage + top-k: the codes
    scan joins the broadcast LUT map-side and the per-(query, vector)
    M-term sum combines map-side too (all M code rows of a vector come
    from the producing task), so the only shuffle is skinny partial rows
    into the final agg + the two-stage top-k. With a large query batch,
    pivot the LUT to a per-query map keyed by m·K+code and fold codes
    per row to drop even that shuffle."""
    adc = (
        codes.join(broadcast(lut), on)
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )
    return _topk(adc, "adc_d2", k)


def _rerank(short: DataFrame, e: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact-cosine rerank of a k·factor shortlist (Jégou et al. §V-C):
    the shortlist is broadcast against the (vec_id, embedding)
    projection, so the exact-distance work is |Q|·k·factor rows at any
    corpus size (a production deployment would point-look-up the
    shortlist ids in a keyed store). Recall strictly improves on the ADC
    ranking whenever quantization reordered true neighbors inside the
    shortlist (pinned ≥ in tests at every fixture SF)."""
    rer = (
        e.join(broadcast(short), "vec_id")
        .join(broadcast(q), "query_id")
        .select(
            "query_id", "vec_id",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cosine"),
        )
    )
    return _topk(rer, "cosine", k)


def knn(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    coarse: str | None = None,
    code: str = "flat",
    rerank: int | None = None,
    candidate_filter=None,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iter: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebook: DataFrame | None = None,
    keep: tuple[str, ...] = (),
    dim: int = 64,
    n_codes: int = PQ_CODES,
    n_subspaces: int = PQ_SUBSPACES,
) -> DataFrame:
    """Top-k neighbors of each query id: (query_id, vec_id, cosine) for
    ``code="flat"`` or a rerank, (query_id, vec_id, adc_d2) for PQ codes;
    k rows per query, self excluded, ties → lowest vec_id.

    ``coarse`` picks the candidate generator:

    - None: exact — every corpus row is a candidate (broadcast queries,
      one corpus pass; the exact-kNN lower bound, and the ground truth
      the approximate stages are measured against);
    - ``"lsh"``: candidates share the query's random-hyperplane sign
      bucket or differ in one bit (:func:`_lsh_bucketed`,
      :func:`_multiprobe`);
    - ``"kmeans"`` / ``"seed"`` / ``"lloyd"``: an inverted file over
      ``n_cells`` cells, each query scanning its ``n_probe`` nearest
      (:func:`_kmeans_assigned`, :func:`_coarse`, :func:`_probe`).

    ``code`` picks the score: ``"flat"`` exact cosine, ``"pq"`` ADC
    against a global codebook (``codebook`` reuses a trained one),
    ``"residual_pq"`` ADC of residuals against their cell centroid with
    a per-(query, probed cell) LUT (Jégou et al., TPAMI'11 §III —
    residuals against the cell MEAN carry only the within-cell variance,
    so the same M×K code budget spends its resolution on what the coarse
    quantizer didn't explain). PQ codes bound the scan FOOTPRINT (M byte
    codes per candidate instead of the float vector) as the inverted
    file bounds the scan FRACTION; with a coarse stage, cell assignment
    and encoding are ONE map-side corpus pass (:func:`_fused_assign_encode`).
    ``rerank=factor`` re-ranks a k·factor shortlist by exact cosine
    (:func:`_rerank`).

    ``candidate_filter`` (a Column predicate) restricts the CANDIDATE
    side before ranking — the pre-filter strategy, never post-filter
    (rank, then drop, and return fewer than k). With an inverted file
    the index is built over the FULL corpus (filters vary per query,
    indexes don't) and the predicate lands on the probed cells' scan;
    ``keep`` threads the predicate's columns through the assignment. A
    highly selective filter inside unprobed cells needs a larger
    ``n_probe`` (the ivf_probe_recall_sweep knob), not another
    algorithm.

    Every path with a coarse stage or PQ codes depends on ``dim``, so it
    checks the corpus once on entry (:func:`_checked`): a NULL row is
    dropped, and a row of another length or with a NULL element raises.
    The exact and ``"lsh"`` flat paths do not depend on ``dim`` and take
    any equal-length vectors unchecked.

    Every closed-form combination (no coarse stage, ``"seed"``,
    ``"lloyd"``; any code) is replayed bit-exactly by a DuckDB oracle.
    """
    spark = embeddings.sparkSession
    if rerank:
        short = knn(
            embeddings, query_ids, k * rerank, coarse=coarse, code=code,
            candidate_filter=candidate_filter, n_cells=n_cells,
            n_probe=n_probe, n_iter=n_iter, centroids=centroids,
            codebook=codebook, keep=keep, dim=dim, n_codes=n_codes,
            n_subspaces=n_subspaces,
        ).select("query_id", "vec_id")
        e = embeddings.where(F.col("embedding").isNotNull()).select(
            "vec_id", "embedding")
        return _rerank(short, e, _queries(e, query_ids), k)
    if coarse is None and code == "flat":
        cand = (embeddings if candidate_filter is None
                else embeddings.where(candidate_filter))
        return _topk(
            _flat_scores(broadcast(_queries(embeddings, query_ids)), cand),
            "cosine", k,
        )
    if coarse == "lsh":
        emb_b = _lsh_bucketed(embeddings, _planes(dim),
                              ["vec_id", "embedding"])
        q = _queries(emb_b, query_ids, F.explode(
            _multiprobe(F.col("bucket"), LSH_PLANES)).alias("bucket"))
        return _topk(
            _flat_scores(broadcast(q), emb_b, "bucket").distinct(),
            "cosine", k,
        )
    e = _checked(embeddings, dim)
    if code == "pq" and coarse is None:
        cb = codebook if codebook is not None else _pq_codebook_literal(
            e, n_codes, n_subspaces, dim)
        qsub = _pq_subvectors(e.where(F.col("vec_id").isin(*query_ids)),
                              n_subspaces, dim)
        return _adc_topk(
            _pq_encode(e, cb, n_subspaces, dim),
            _lut(qsub, cb, F.col("vec_id").alias("query_id")),
            ["m", "code"], k,
        )

    if coarse == "kmeans":
        assigned, cent_lit = _kmeans_assigned(e, n_cells)
    else:
        cent_lit = _coarse(e, coarse, n_cells, n_iter, centroids)
        if not cent_lit:
            return _empty(spark, "cosine" if code == "flat" else "adc_d2")
        if code == "flat":
            assigned = _assigned(e, cent_lit, keep)
    if code == "flat":
        return _ivf_search(
            assigned, cent_lit, _queries(assigned, query_ids), k, n_probe,
            corpus=(None if candidate_filter is None
                    else assigned.where(candidate_filter)),
        )

    residual = code == "residual_pq"
    if codebook is None:
        codebook = (
            _residual_codebook(e, cent_lit, n_cells, n_codes, n_subspaces,
                               dim)
            if residual else
            _pq_codebook_literal(e, n_codes, n_subspaces, dim)
        )
    codes = _fused_assign_encode(e, cent_lit, codebook, n_subspaces, dim,
                                 residual=residual)
    q = _queries(e, query_ids)
    if not residual:
        probes = _probe(q, cent_lit, n_probe).select("query_id", "cell")
        qsub = _pq_subvectors(e.where(F.col("vec_id").isin(*query_ids)),
                              n_subspaces, dim)
        return _adc_topk(
            codes.join(broadcast(probes), "cell"),
            _lut(qsub, codebook, F.col("vec_id").alias("query_id")),
            ["query_id", "m", "code"], k,
        )
    # per-(query, probed cell) residual q − centroid(cell): the LUT key
    # gains the cell column
    qres = _probe(q, cent_lit, n_probe, "centroid").select(
        "query_id", "cell",
        F.zip_with(
            "q_emb", "centroid", lambda x, c: x.cast("double") - c,
        ).alias("embedding"),
    )
    qsub = _pq_subvectors(qres, n_subspaces, dim, keep=("query_id", "cell"))
    return _adc_topk(codes, _lut(qsub, codebook, "query_id", "cell"),
                     ["cell", "m", "code"], k)


def _index_layout(spark, index_path: str) -> str:
    """``"ivfpq"`` (``centroids/`` + ``codebook/`` + ``codes/``), ``"pq"``
    (``codebook/`` + ``codes/``) or ``"ivf_flat"`` (a cell-partitioned
    embedding table) — read from the directory layout the writers in
    ``sources.sinks`` produce."""
    for layout, sub in (("ivfpq", "centroids"), ("pq", "codebook")):
        if exists(spark, f"{index_path}/{sub}"):
            return layout
    return "ivf_flat"


def knn_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    *,
    n_probe: int = 4,
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    include_streamed: bool = False,
    candidate_filter=None,
) -> DataFrame:
    """:func:`knn` served from a PERSISTED index: the same stages, with
    the models read back instead of trained and ``queries`` a
    (vec_id, embedding) frame. The index kind comes from its layout
    (:func:`_index_layout`), one per writer in ``sources.sinks``:

    - IVF-flat (``write_ivf_index``): centroids are recovered as the
      per-cell quantized means (:func:`_mean_literals`, n_cells × dim
      rows), and the candidate scan reads ONLY the probed cell
      partitions — dynamic partition pruning turns the probes⋈index
      join on the partition column into a directory-level skip; a flat
      search does not depend on ``dim``, so its queries go unchecked;
    - PQ (``write_pq_index``): geometry (M = max(m)+1, subdim = len(cv))
      is derived from the stored codebook rather than trusted from the
      caller — a mismatch would NULL out every LUT distance — and the
      scan reads only the packed codes (M bytes/vector); every query
      row is checked in-plan against that geometry (:func:`_checked`);
    - residual IVF-PQ (``write_ivfpq_index``): centroids and codebook
      come from the session model cache (one bounded fetch per index),
      and probe ranking + LUT are computed on the DRIVER
      (:func:`_adc_lut_driver`, which also checks every query's length):
      |Q|·n_probe·M·K rows cost microseconds of float math against ~2 s
      of per-call Catalyst construction for the in-plan twin. Because
      the probed cells are then known at planning time, the codes scan
      gets a STATIC partition filter on ``cell`` — it never lists
      unprobed directories — and the serve plan is ONE big-side job.

    PQ and IVF-PQ results are bit-identical to the in-memory ``knn`` on
    the same corpus: codebook/centroid doubles, byte codes and int64 LUT
    distances all round-trip parquet exactly.

    IVF-PQ only: ``include_streamed`` also searches the codes appended
    by the streaming maintenance sink (``streaming.index_sink``), each
    side pruned to the probed cells BEFORE the union so the streamed
    tail never widens the base scan; ``candidate_filter`` (a predicate
    over the ``write_ivfpq_index(meta_cols=...)`` sidecar) restricts
    candidates BEFORE ranking — the sidecar scan is pruned to the same
    cells, the predicate pushes into it, and the surviving (vec_id,
    cell) keys semi-join the codes. The two are mutually exclusive
    (appended codes have no sidecar rows and would be silently
    excluded). ``rerank=factor`` re-ranks a k·factor shortlist by exact
    cosine against the raw ``embeddings`` (:func:`_rerank`); a filter
    threads through to the shortlist."""
    if rerank:
        short = knn_from_index(
            spark, index_path, queries, k * rerank, n_probe=n_probe,
            include_streamed=include_streamed,
            candidate_filter=candidate_filter,
        ).select("query_id", "vec_id")
        e = embeddings.where(F.col("embedding").isNotNull()).select(
            "vec_id", "embedding")
        q = _queries(queries.where(F.col("embedding").isNotNull()))
        return _rerank(short, e, q, k)
    layout = _index_layout(spark, index_path)
    if layout == "ivf_flat":
        idx = spark.read.parquet(index_path)
        return _ivf_search(idx, _mean_literals(idx, "cell"),
                           _queries(queries), k, n_probe)
    if layout == "pq":
        cb = spark.read.parquet(f"{index_path}/codebook")
        meta = cb.agg(F.max("m").alias("mm"),
                      F.max(F.size("cv")).alias("sd")).first()
        if meta["mm"] is None:  # empty index (empty corpus at write time)
            return _empty(spark, "adc_d2")
        n_subspaces = int(meta["mm"]) + 1
        dim = n_subspaces * int(meta["sd"])
        qsub = _pq_subvectors(_checked(queries, dim), n_subspaces, dim)
        codes = unpack_pq_codes(spark.read.parquet(f"{index_path}/codes"))
        return _adc_topk(codes, _lut(qsub, cb, F.col("vec_id").alias(
            "query_id")), ["m", "code"], k)

    if candidate_filter is not None and include_streamed:
        raise ValueError(
            "candidate_filter with include_streamed is not supported: "
            "streamed-appended codes carry no metadata sidecar rows and "
            "would be silently excluded from a filtered search"
        )
    cb_rows, cent_rows = _index_models(spark, index_path)
    if not cb_rows:  # empty index (empty corpus at write time)
        return _empty(spark, "adc_d2")
    n_subspaces = cb_rows[-1][0] + 1
    sd = max(len(r[2]) for r in cb_rows)
    lut_rows = _adc_lut_driver(
        queries.select("vec_id", "embedding").collect(), cent_rows,
        cb_rows, n_probe, n_subspaces, sd, n_subspaces * sd,
    )
    if not lut_rows:  # no valid queries
        return _empty(spark, "adc_d2")
    lut = spark.createDataFrame(
        lut_rows, "query_id bigint, cell int, m int, code bigint, "
                  "lut_d2 bigint")
    probe_cells = sorted({r[1] for r in lut_rows})
    pruned = spark.read.parquet(f"{index_path}/codes").where(
        F.col("cell").isin(probe_cells))
    if include_streamed:
        from bigdata2016w_spark.streaming.index_sink import (
            read_streamed_codes,
        )

        pruned = pruned.unionByName(
            read_streamed_codes(spark, index_path)
            .where(F.col("cell").isin(probe_cells))
            .select(*pruned.columns)
        )
    if candidate_filter is not None:
        allowed = (
            spark.read.parquet(f"{index_path}/meta")
            .where(F.col("cell").isin(probe_cells))
            .where(candidate_filter)
            .select("vec_id", "cell")
        )
        pruned = pruned.join(allowed, ["vec_id", "cell"], "left_semi")
    codes = pruned.select(
        "vec_id", "cell", F.posexplode("codes").alias("m", "code")
    ).select("vec_id", "cell", "m", F.col("code").cast("bigint").alias("code"))
    return _adc_topk(codes, lut, ["cell", "m", "code"], k)
