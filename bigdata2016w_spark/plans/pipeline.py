"""Registered training-data-pipeline queries: dedup, similarity search,
text stats, language ID (pipeline extension — SURVEY §7.1 step 8).

Every dedup tier carries a DuckDB oracle: the exact operators trivially,
and the MinHash-LSH / SimHash approximate paths via the ``portable``
md5-hex hash family (bit-identical in Spark and DuckDB), so even the
banded-LSH candidate generation is replayed by the oracle. The xxhash64
scale-path variants keep recall/consistency pytest coverage
(tests/test_pipeline.py). ann_ivf (KMeans quantizer) stays rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata2016w_spark.functions.textstats import (
    EN_STOP,
    doc_stats_cols,
    doc_stats_sql,
    fingerprint,
    fingerprint_sql,
    lang_id,
    lang_id_sql,
    quality_sql,
)
from bigdata2016w_spark.functions.tokenizer import tokenize, tokenize_sql
from bigdata2016w_spark.operators.components import (
    connected_components,
    connected_components_star,
)
from bigdata2016w_spark.operators.dedup import (
    MH_PRIME,
    exact_dedup_groups,
    jaccard_near_dupes,
    mh_affine,
    minhash_lsh_near_dupes,
    portable_hash60,
    shingle_sets,
    simhash_near_dupes,
)
from bigdata2016w_spark.operators.similarity import (
    _planes,
    embedding_near_dupes,
    knn,
    knn_from_index,
)
from bigdata2016w_spark.registry import QuerySpec, register
from bigdata2016w_spark.shared import (
    forget,
    scratch_dir,
    shared,
    stream_two_batches,
)
from bigdata2016w_spark.sources.catalog import load_table

JACCARD_THRESHOLD = 0.5
KNN_QUERY_IDS = [0, 1, 2, 3, 4]
KNN_K = 10

# Three registered queries consume the same Jaccard near-dup pair set
# (dedup_jaccard, corpus_curation, dedup_clusters). The PPJoin pipeline
# behind it is the most expensive plan in the engine, so a suite run that
# recomputes it per consumer pays ~3× for identical rows. Share the
# *result* DataFrame per (session, sf_dir, threshold) and localCheckpoint
# it: the first consumer materializes, the rest reuse the checkpointed
# partitions. At cluster scale the same pattern is "write the pairs table
# once, read it from each downstream job".
def shared_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 3-gram shingle table for the documents corpus — the most
    expression-heavy per-row transform in the engine, consumed by four
    registered queries (Jaccard, MinHash-LSH, contamination, dup-spans).
    At cluster scale this is "write the shingle table once, read it from
    each dedup/curation job"; locally it is one localCheckpoint shared
    per (session, sf_dir)."""
    return shared(spark, ("shingles", sf_dir), lambda: shingle_sets(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False))


def _shared_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    def build() -> DataFrame:
        return jaccard_near_dupes(
            load_table(spark, sf_dir, "documents"),
            threshold,
            shingled=shared_shingle_sets(spark, sf_dir),
        ).localCheckpoint(eager=False)

    return shared(spark, ("jaccard_pairs", sf_dir, threshold), build)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_jaccard_pairs(spark, sf_dir)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable hash family → the full LSH pipeline (signatures, banding,
    # candidate join, exact-Jaccard verify) is recomputed by the DuckDB
    # oracle; the xxhash64 scale path keeps its own pytest recall check
    return minhash_lsh_near_dupes(
        load_table(spark, sf_dir, "documents"),
        JACCARD_THRESHOLD,
        shingled=shared_shingle_sets(spark, sf_dir),
        portable=True,
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dupes(
        load_table(spark, sf_dir, "documents"), portable=True
    )


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query id: (query_id,
    vec_id, cosine), k rows per query, self excluded, ties broken by
    vec_id. Broadcast the (small) query set, one pass over the corpus,
    per-query two-stage top-k — the corpus itself never shuffles, so it
    scales to arbitrarily large embedding tables (a scan, the exact-kNN
    lower bound); see operators/similarity.knn."""
    return knn(load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by random-hyperplane LSH: sign buckets from
    fixed seeded hyperplanes (deterministic across runs); candidates
    share the query's bucket or differ in exactly one sign bit
    (multi-probe — recall insurance against boundary flips), ranked by
    exact cosine; see operators/similarity.knn(coarse="lsh")."""
    return knn(load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K,
               coarse="lsh")


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate kNN: an MLlib KMeans coarse
    quantizer assigns every vector to one of 16 cells; each query scans
    only its 4 nearest cells, ranked by exact cosine — scan fraction ≈
    n_probe/n_cells, deterministic given the seed. No oracle (the fit is
    iterative); the exact-arithmetic twin is ann_ivf_lloyd. See
    operators/similarity.knn(coarse="kmeans")."""
    return knn(load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K,
               coarse="kmeans")


def emb_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.sources.catalog import table_row_count

    # size the LSH blocker from the parquet footer stat — no count() scan
    return embedding_near_dupes(
        load_table(spark, sf_dir, "embeddings"),
        n_vectors=table_row_count(sf_dir, "embeddings"),
    )


# quality on the synthetic corpus spans ~0.23-0.46; 0.33 ≈ the median
QUALITY_MIN = 0.33


def quality_gated_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, quality) for every non-empty-token doc passing
    the QUALITY_MIN gate — the curation front half, defined ONCE and
    shared by :func:`corpus_curation` and the CLI export's swappable
    dedup tiers (``cli._curated``) so the gate shape (tokenizer,
    doc_stats_cols, the empty-token predicate, the threshold) can never
    drift between the registered query surface and the export command."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.size(tokenize("text")) > 0)
        .select("doc_id", *doc_stats_cols(F.col("text")))
        .where(F.col("quality") >= QUALITY_MIN)
    )


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: quality-filter + near-dup
    removal in one declarative plan. Keeps docs with quality ≥ 0.45 that
    are not the higher-id member of any Jaccard≥0.5 near-dup pair
    (survivor = lowest doc_id, the exact-dedup convention). Returns
    (doc_id, n_tokens, quality). Threshold 0.33 ≈ corpus median quality."""
    losers = _shared_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    return (
        quality_gated_stats(spark, sf_dir)
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality")
    )


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/quality stats + portable md5 fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.size(tokenize("text")) > 0).select(
        "doc_id",
        *doc_stats_cols(F.col("text")),
        fingerprint(F.col("text")).alias("fingerprint"),
    )


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID next to the ground-truth lang col."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", lang_id(tokenize("text")).alias("lang_pred"), "lang"
    )


_TOK = tokenize_sql("text")

_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS keep_id, count(*) AS n_docs
FROM documents GROUP BY text
"""

_SHINGLES = f"""
s AS (
  SELECT doc_id, len(t) AS n,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]) AS sh
  FROM (SELECT doc_id, {_TOK} AS t FROM documents)
  WHERE len(t) >= 3
)
"""

_DEDUP_JACCARD_SQL = f"""
WITH {_SHINGLES}
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
) WHERE jaccard >= {JACCARD_THRESHOLD}
"""

# ---- SQL twins of the portable-hash LSH dedup tiers -------------------
# The registered MinHash/SimHash queries use portable_hash60 (md5-hex →
# BIGINT, bit-identical across Spark and DuckDB), so the *entire* LSH
# pipeline — signatures, banding, candidate equi-join, verify — replays in
# plain SQL. P/band/chunk constants mirror the operator defaults.

_MH_P, _MH_BANDS = 16, 4
_MH_ROWS = _MH_P // _MH_BANDS
_SIM_BITS, _SIM_CHUNK_BITS, _SIM_MAXHAM = 60, 15, 3


def _phash_sql(seed, expr: str) -> str:
    """DuckDB twin of operators.dedup.portable_hash60."""
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"


_MH_SIG_COLS = ",\n         ".join(
    "min(({a} * hb + {b}) % {pr}) AS mh_{p}".format(
        a=mh_affine(p)[0], b=mh_affine(p)[1], pr=MH_PRIME, p=p
    )
    for p in range(_MH_P)
)
_MH_BAND_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band, "
    + " || ',' || ".join(
        f"CAST(mh_{b * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)
    )
    + " AS bh FROM sig"
    for b in range(_MH_BANDS)
)

_DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES},
ex AS (SELECT doc_id, {_phash_sql('mh', 'unnest(sh)')} % {MH_PRIME} AS hb
       FROM s),
sig AS (
  SELECT doc_id,
         {_MH_SIG_COLS}
  FROM ex GROUP BY doc_id
),
bands AS (
{_MH_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                  AS DOUBLE) AS jaccard
  FROM cand c
  JOIN s a ON a.doc_id = c.doc_a
  JOIN s b ON b.doc_id = c.doc_b
) WHERE jaccard >= {JACCARD_THRESHOLD}
"""

_SIM_VOTE_COLS = ",\n         ".join(
    f"sum(((h >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(_SIM_BITS)
)
_SIM_SIG_EXPR = "\n         + ".join(
    f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIM_BITS)
)
_SIM_CHUNK_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, simhash, {c} AS chunk,"
    f" (simhash >> {c * _SIM_CHUNK_BITS}) & {(1 << _SIM_CHUNK_BITS) - 1}"
    f" AS cv FROM sig"
    for c in range(4)
)

_DEDUP_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS w FROM documents
),
h AS (SELECT doc_id, {_phash_sql('sim', 'w')} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {_SIM_VOTE_COLS}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {_SIM_SIG_EXPR} AS simhash
  FROM votes
),
chunks AS (
{_SIM_CHUNK_SELECTS}
)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
FROM chunks x JOIN chunks y
  ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {_SIM_MAXHAM}
"""

_ANN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pairs AS (
  SELECT q.query_id, e.vec_id,
         list_reduce([CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                      for i in range(1, len(q.qe) + 1)], (x, y) -> x + y)
         / (sqrt(list_reduce([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
                              for i in range(1, len(q.qe) + 1)], (x, y) -> x + y))
            * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                                for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y)))
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""

# ---- SQL twins of the hyperplane-LSH operators ------------------------
# The LSH buckets are literal-float hyperplane dot products (no xxhash),
# so they are fully expressible in DuckDB with the engine's exact fold
# order: left-fold from 0.0 in Spark ≡ list_reduce's first-element seed
# ((0.0 + a) is bit-identical to a), per-element double promotion on both
# sides. Plane literals round-trip exactly via repr().


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in range(1, len({a}) + 1)], (x, y) -> x + y)"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def _bucket_sql(vec: str, planes: list[list[float]]) -> str:
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        d = (
            f"list_reduce([CAST({vec}[i] AS DOUBLE) * ({arr})[i] "
            f"for i in range(1, len({vec}) + 1)], (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_LSH_PLANES_LIT = _planes(64, 4)
_PROBE_LIST = "[qb, " + ", ".join(f"xor(qb, {1 << i})" for i in range(4)) + "]"

_ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {_bucket_sql('embedding', _LSH_PLANES_LIT)} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, bucket AS qb
  FROM b WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
probes AS (
  SELECT query_id, qe, unnest({_PROBE_LIST}) AS bucket FROM q
),
pairs AS (
  SELECT DISTINCT p.query_id, e.vec_id,
         {_cos_sql('p.qe', 'e.embedding')} AS cosine
  FROM probes p JOIN b e
    ON e.bucket = p.bucket AND e.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""

# The operator sizes its plane count from the corpus (P = log2(N/B),
# B = EMB_BUCKET_TARGET = 32) and amplifies with extra plane tables only
# past the P=4 minimum. At the driver's gate scale the embeddings table
# has N = 500 → P = 4, L = 1, so this static 4-plane / single-table SQL
# is the exact twin of what the adaptive operator executes there; at
# larger corpora the operator grows P (keeping candidates ~linear in N)
# and this oracle no longer applies.
_EMB_NEAR_DUPES_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {_bucket_sql('embedding', _LSH_PLANES_LIT)} AS bucket,
         sqrt({_dot_sql('embedding', 'embedding')}) AS n
  FROM embeddings
)
SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
       {_dot_sql('x.embedding', 'y.embedding')} / (x.n * y.n) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE {_dot_sql('x.embedding', 'y.embedding')} / (x.n * y.n) >= 0.4
"""

_DOC_STATS_SQL = f"""
SELECT doc_id, {doc_stats_sql('text')}, {fingerprint_sql('text')} AS fingerprint
FROM documents
WHERE len({_TOK}) > 0
"""

_LANG_ID_SQL = f"""
SELECT doc_id, {lang_id_sql(_TOK)} AS lang_pred, lang FROM documents
"""

register(QuerySpec("dedup_exact", dedup_exact, _DEDUP_EXACT_SQL,
                   doc=exact_dedup_groups.__doc__))
# registered early within this module: the adaptive-plane change (r03)
# needs a fresh driver row inside the 50-query correctness window
register(QuerySpec("embedding_near_dupes", emb_near_dupes, _EMB_NEAR_DUPES_SQL,
                   doc=embedding_near_dupes.__doc__))
register(QuerySpec("dedup_jaccard", dedup_jaccard, _DEDUP_JACCARD_SQL,
                   doc=jaccard_near_dupes.__doc__))
register(QuerySpec("dedup_minhash_lsh", dedup_minhash, _DEDUP_MINHASH_SQL,
                   doc=minhash_lsh_near_dupes.__doc__))
register(QuerySpec("dedup_simhash", dedup_simhash, _DEDUP_SIMHASH_SQL,
                   doc=simhash_near_dupes.__doc__))
register(QuerySpec("ann_bruteforce", ann_bruteforce, _ANN_SQL,
                   doc=ann_bruteforce.__doc__))
register(QuerySpec("ann_lsh", ann_lsh, _ANN_LSH_SQL, doc=ann_lsh.__doc__))
register(QuerySpec("ann_ivf", ann_ivf, None, doc=ann_ivf.__doc__))
register(QuerySpec("doc_stats", doc_stats, _DOC_STATS_SQL, doc=doc_stats.__doc__))
register(QuerySpec("doc_lang_id", doc_lang_id, _LANG_ID_SQL,
                   doc=doc_lang_id.__doc__))

_CURATION_SQL = f"""
WITH {_SHINGLES},
losers AS (
  SELECT DISTINCT b.doc_id
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
stats AS (
  SELECT doc_id, len({_TOK}) AS n_tokens,
         {quality_sql('text')} AS quality
  FROM documents WHERE len({_TOK}) > 0
)
SELECT doc_id, n_tokens, quality FROM stats
WHERE quality >= {QUALITY_MIN}
  AND doc_id NOT IN (SELECT doc_id FROM losers)
"""

register(QuerySpec("corpus_curation", corpus_curation, _CURATION_SQL,
                   doc=corpus_curation.__doc__))


def documents_rejection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation explainability: one row per CORPUS doc saying why it
    survived or died — the audit table a production pipeline keeps so
    "where did my document go?" has an answer. Status precedence
    (first match wins, mirroring ``corpus_curation``'s gate):
    'empty' (no tokens; quality is NULL, not 0/0) → 'low_quality'
    (quality < threshold) → 'near_dup_loser' (higher-id member of a
    Jaccard≥t pair) → 'kept'. The 'kept' set is exactly
    ``corpus_curation``'s survivor set (pinned by a pytest).

    Shape: the quality projection is map-only; the loser set reuses the
    cached shared Jaccard pairs; one left join corpus ⋈ losers on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    from bigdata2016w_spark.functions.textstats import quality_col

    n_tok = F.size(tokenize("text"))
    stats = docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.when(n_tok > 0, quality_col(F.col("text"))).alias("quality"),
    )
    losers = _shared_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct().withColumn("is_loser", F.lit(1))
    return (
        stats.join(losers, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            F.when(
                F.col("n_tokens").isNull() | (F.col("n_tokens") == 0),
                "empty",
            )
            .when(F.col("quality") < QUALITY_MIN, "low_quality")
            .when(F.col("is_loser") == 1, "near_dup_loser")
            .otherwise("kept")
            .alias("status"),
        )
    )


_REJECTION_AUDIT_SQL = f"""
WITH {_SHINGLES},
losers AS (
  SELECT DISTINCT b.doc_id
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
stats AS (
  SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens,
         CASE WHEN len({_TOK}) > 0 THEN {quality_sql('text')} END AS quality
  FROM documents
)
SELECT doc_id, n_tokens, quality,
       CASE WHEN n_tokens IS NULL OR n_tokens = 0 THEN 'empty'
            WHEN quality < {QUALITY_MIN} THEN 'low_quality'
            WHEN doc_id IN (SELECT doc_id FROM losers) THEN 'near_dup_loser'
            ELSE 'kept' END AS status
FROM stats
"""

register(QuerySpec("documents_rejection_audit", documents_rejection_audit,
                   _REJECTION_AUDIT_SQL,
                   doc=documents_rejection_audit.__doc__))


def _dup_clusters(spark: SparkSession, sf_dir: str,
                  components) -> DataFrame:
    """(doc_id, cluster_rep): ``components`` over the shared Jaccard pairs,
    labeled once per session and read back by every consumer."""
    def build() -> DataFrame:
        pairs = _shared_jaccard_pairs(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        return components(pairs).select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_rep"),
        )

    return shared(spark, _dup_clusters_key(sf_dir, components), build)


def _dup_clusters_key(sf_dir: str, components) -> tuple:
    return ("dup_clusters", sf_dir, JACCARD_THRESHOLD, components.__name__)


def forget_jaccard_pairs(spark: SparkSession, sf_dir: str) -> None:
    """Drop the shared shingles and Jaccard pairs and both dup-cluster
    labelings built from them, so the next consumer rebuilds all of
    them: a labeling never outlives the pairs it was computed from."""
    for components in (connected_components, connected_components_star):
        forget(spark, _dup_clusters_key(sf_dir, components))
    forget(spark, ("jaccard_pairs", sf_dir, JACCARD_THRESHOLD))
    forget(spark, ("shingles", sf_dir))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters via connected components:
    (doc_id, cluster_rep = min doc_id in the component). Only docs that
    participate in ≥1 near-dup pair appear. The labeling is built once
    per session and shared with ``dedup_keep_best`` and
    ``documents_leakage_safe_split``."""
    return _dup_clusters(spark, sf_dir, connected_components)


_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, other) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.node, s2.b FROM reach r JOIN sym s2 ON r.other = s2.a
)
SELECT node AS doc_id,
       least(node, min(other)) AS cluster_rep
FROM reach GROUP BY node
"""

register(QuerySpec("dedup_clusters", dedup_clusters, _CLUSTERS_SQL,
                   doc=dedup_clusters.__doc__))


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster output as ``dedup_clusters`` computed with
    the O(log n)-round large-star/small-star algorithm instead of
    min-label propagation — the variant that survives adversarial
    long-chain dup graphs at 100 TB (rounds bounded by log n, not
    diameter). Shares the cached Jaccard pair set and the recursive-CTE
    oracle with ``dedup_clusters``, but keeps its own session labeling,
    so it always runs the star rounds; both must agree exactly."""
    return _dup_clusters(spark, sf_dir, connected_components_star)


register(QuerySpec("dedup_clusters_star", dedup_clusters_star, _CLUSTERS_SQL,
                   doc=dedup_clusters_star.__doc__))


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster keep
    the HIGHEST-quality copy (ties broken by min doc_id) instead of the
    min-id convention — what a production pipeline actually does when the
    duplicates differ in OCR noise / boilerplate. Returns one row per
    cluster: (cluster_rep, kept_doc, quality, n_members).

    Shape: the cluster table (near-dup participants only — tiny vs the
    corpus) joins doc quality, then ONE window partitioned by cluster_rep
    ranks members; partitions are bounded by cluster size, never
    corpus-sized, so there is no skew funnel at 100 TB. Reads the
    session's dup-cluster labeling, which ``dedup_clusters`` shares: the
    components loop runs once per session for all of its consumers.
    """
    from pyspark.sql.window import Window

    from bigdata2016w_spark.functions.textstats import quality_col

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    # cluster members always have >= 3 tokens (they carry shingles), but
    # the quality projection runs before the join — guard so empty/NULL
    # text elsewhere in the corpus can't raise an ANSI 0/0
    n_tok = F.size(tokenize("text"))
    q = docs.select(
        "doc_id",
        F.when(n_tok > 0, quality_col(F.col("text"))).alias("quality"),
    )
    j = clusters.join(q, "doc_id")
    by_cluster = Window.partitionBy("cluster_rep")
    return (
        j.withColumn(
            "rn",
            F.row_number().over(
                by_cluster.orderBy(F.desc("quality"), F.asc("doc_id"))
            ),
        )
        .withColumn("n_members", F.count("*").over(by_cluster))
        .where(F.col("rn") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("kept_doc"),
            "quality",
            "n_members",
        )
    )


def _keep_best_sql() -> str:
    from bigdata2016w_spark.functions.textstats import quality_sql

    return f"""
SELECT cluster_rep, doc_id AS kept_doc, quality, n_members
FROM (
  SELECT c.cluster_rep, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.cluster_rep
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster_rep) AS n_members
  FROM ({_CLUSTERS_SQL}) c
  JOIN (SELECT doc_id, {quality_sql('text')} AS quality
        FROM documents) q USING (doc_id)
)
WHERE rn = 1
"""


register(QuerySpec("dedup_keep_best", dedup_keep_best, _keep_best_sql(),
                   doc=dedup_keep_best.__doc__))


# test split = 20% of CLUSTERS (hash buckets 8,9 of 10); train = rest
_SPLIT_TEST_BUCKETS = (8, 9)


def documents_leakage_safe_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-aware train/test split: the split key is the near-dup
    CLUSTER, never the document, so two near-duplicate documents can
    never land on opposite sides of the split — the train/test leakage
    mode that inflates held-out metrics in LLM pretraining evals
    (the reason public pipelines split after dedup clustering, and the
    within-corpus complement of contamination_check's corpus-vs-benchmark
    test).

    Every doc resolves to a cluster representative (its connected
    component over the shared Jaccard pair set; singletons are their own
    rep), and the rep — not the doc — hashes into train/test through the
    portable 60-bit family (buckets 8,9 of 10 → 20% test). Output is the
    full per-doc assignment, so the no-straddle property is
    row-checkable by the oracle rather than asserted.

    100-TB shape: reads the session's ``dedup_clusters`` labeling
    (built once over the shared PPJoin pair set); the split itself adds
    one broadcast-sized left join (components table ≪ corpus: only docs
    in ≥1 dup pair) plus a map-side hash — no new shuffle of the corpus.
    Oracle: recursive-CTE components + the same md5 bucket arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cc = dedup_clusters(spark, sf_dir).withColumnRenamed("cluster_rep", "rep")
    assigned = docs.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("rep", "doc_id").alias("cluster_rep")
    )
    bucket = F.pmod(
        portable_hash60(F.col("cluster_rep").cast("string"), "SPLIT"),
        F.lit(10),
    )
    return assigned.select(
        "doc_id",
        "cluster_rep",
        F.when(bucket.isin(*_SPLIT_TEST_BUCKETS), "test")
        .otherwise("train").alias("split"),
    ).orderBy("doc_id")


_SPLIT_SQL = f"""
WITH RECURSIVE {_SHINGLES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, other) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.node, s2.b FROM reach r JOIN sym s2 ON r.other = s2.a
),
cc AS (
  SELECT node AS doc_id, least(node, min(other)) AS cluster_rep
  FROM reach GROUP BY node
)
SELECT d.doc_id,
       coalesce(cc.cluster_rep, d.doc_id) AS cluster_rep,
       CASE WHEN {_phash_sql('SPLIT',
                             'CAST(coalesce(cc.cluster_rep, d.doc_id)'
                             ' AS VARCHAR)')} % 10 IN (8, 9)
            THEN 'test' ELSE 'train' END AS split
FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
ORDER BY d.doc_id
"""

register(QuerySpec("documents_leakage_safe_split",
                   documents_leakage_safe_split, _SPLIT_SQL,
                   doc=documents_leakage_safe_split.__doc__))


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import label_centroids

    return label_centroids(load_table(spark, sf_dir, "embeddings"))


_CENTROIDS_SQL = """
WITH ex AS (
  SELECT label, unnest(range(len(embedding))) AS dim,
         embedding[unnest(range(len(embedding))) + 1] AS x
  FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       round(CAST(sum(CAST(round(CAST(x AS DOUBLE) * 16777216) AS BIGINT))
                  AS DOUBLE) / count(*) / 16777216, 6) AS centroid,
       count(*) AS n_vectors
FROM ex GROUP BY label, dim
"""

register(QuerySpec("embedding_label_centroids", embedding_label_centroids,
                   _CENTROIDS_SQL, doc=embedding_label_centroids.__doc__))


def embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    return nearest_centroid_confusion(load_table(spark, sf_dir, "embeddings"))


_NEAREST_CENTROID_SQL = """
WITH cent AS (
  SELECT label AS cand, dim, centroid FROM (
    WITH ex AS (
      SELECT label, unnest(range(len(embedding))) AS dim,
             embedding[unnest(range(len(embedding))) + 1] AS x
      FROM embeddings
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           round(CAST(sum(CAST(round(CAST(x AS DOUBLE) * 16777216) AS BIGINT))
                      AS DOUBLE) / count(*) / 16777216, 6) AS centroid
    FROM ex GROUP BY label, dim
  )
),
vx AS (
  SELECT vec_id, label, unnest(range(len(embedding))) AS dim,
         embedding[unnest(range(len(embedding))) + 1] AS x
  FROM embeddings
),
dist AS (
  SELECT vec_id, vx.label, cand,
         sum(CAST(round((CAST(x AS DOUBLE) - centroid)
                        * (CAST(x AS DOUBLE) - centroid) * 16777216)
                  AS BIGINT)) AS d2
  FROM vx JOIN cent ON vx.dim = cent.dim
  GROUP BY vec_id, vx.label, cand
),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2 ASC, cand ASC) AS rn
  FROM dist
)
SELECT label, cand AS predicted_label, count(*) AS n_vectors
FROM pick WHERE rn = 1
GROUP BY label, cand
"""

register(QuerySpec("embedding_nearest_centroid", embedding_nearest_centroid,
                   _NEAREST_CENTROID_SQL,
                   doc=embedding_nearest_centroid.__doc__))


def ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn(load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K,
               coarse="seed")


_IVF_CELLS, _IVF_PROBE = 16, 4

_ANN_IVF_FLAT_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
  FROM e0 WHERE vec_id < {_IVF_CELLS}
),
ac AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM ac
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM e0
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pc AS (
  SELECT q.query_id, q.qe, c.cell,
         {_cos_sql('q.qe', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT query_id, qe, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c_cos DESC, cell ASC) AS pr
    FROM pc
  ) WHERE pr <= {_IVF_PROBE}
),
pairs AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('p.qe', 'a.embedding')} AS cosine
  FROM probes p JOIN assigned a
    ON a.cell = p.cell AND a.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""

register(QuerySpec("ann_ivf_flat", ann_ivf_flat, _ANN_IVF_FLAT_SQL,
                   doc="Deterministic seed-centroid IVF-Flat; see "
                       "operators/similarity.knn(coarse=\"seed\")."))


# metadata-filtered vector search: the candidate predicate of the
# registered filtered tier ("nearest in-set vectors" — ~20% selectivity
# on the uniform 10-label synthetic corpus)
ANN_FILTER_LABELS = (1, 3)


def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn(
        load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K,
        coarse="seed",
        candidate_filter=F.col("label").isin(*ANN_FILTER_LABELS),
        keep=("label",), n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
    )


# _ANN_IVF_FLAT_SQL with the label predicate on the CANDIDATE side of
# the probe join (pre-filter before ranking) — queries and the index
# geometry stay unfiltered, exactly like the operator
_ANN_IVF_FILTERED_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
  FROM e0 WHERE vec_id < {_IVF_CELLS}
),
ac AS (
  SELECT e.vec_id, e.embedding, e.label, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, label, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM ac
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM e0
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pc AS (
  SELECT q.query_id, q.qe, c.cell,
         {_cos_sql('q.qe', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT query_id, qe, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c_cos DESC, cell ASC) AS pr
    FROM pc
  ) WHERE pr <= {_IVF_PROBE}
),
pairs AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('p.qe', 'a.embedding')} AS cosine
  FROM probes p JOIN assigned a
    ON a.cell = p.cell AND a.vec_id <> p.query_id
  WHERE a.label IN {ANN_FILTER_LABELS}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""

register(QuerySpec(
    "ann_ivf_filtered", ann_ivf_filtered, _ANN_IVF_FILTERED_SQL,
    doc="Metadata-filtered IVF vector search (pre-filter on the "
        "candidate side of the probe join); see "
        "operators/similarity.knn(candidate_filter)."))


def ann_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn(
        _shared_valid_embeddings(spark, sf_dir), KNN_QUERY_IDS, KNN_K,
        coarse="lloyd", n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        n_iter=_LLOYD_ITERS,
    )


_LLOYD_ITERS = 2


def _lloyd_round_sql(i: int, src: str = "e0") -> str:
    """One unrolled Lloyd round over the NULL-filtered fit corpus
    (``src`` — the full corpus by default; the streamed-index replay
    fits on the base sub-corpus only): assign
    every vector to its max-cosine centroid (ties → lowest cell, matching
    Spark's array_max struct order), then recompute each surviving cell's
    centroid as the 2^24-quantized-int64 mean rounded to 6 decimals — the
    exact formula of operators/similarity.label_centroids, so both
    engines produce bit-identical doubles regardless of summation order.
    Shared by the ann_ivf_lloyd oracle and the residual-PQ oracles (whose
    Spark twin, lloyd_centroids, fits over the same corpus)."""
    return f"""
a{i} AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM {src} e CROSS JOIN cent{i - 1} c
),
as{i} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM a{i}
  ) WHERE rn = 1
),
cent{i} AS (
  SELECT cell, list(c ORDER BY dim) AS centroid FROM (
    SELECT cell, dim,
           round(CAST(sum(CAST(round(CAST(x AS DOUBLE) * 16777216) AS BIGINT))
                      AS DOUBLE) / count(*) / 16777216, 6) AS c
    FROM (SELECT cell, unnest(range(len(embedding))) AS dim,
                 embedding[unnest(range(len(embedding))) + 1] AS x
          FROM as{i})
    GROUP BY cell, dim
  ) GROUP BY cell
)"""


_ANN_IVF_LLOYD_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
cent0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM e0 WHERE vec_id < {_IVF_CELLS}
),
{','.join(_lloyd_round_sql(i) for i in range(1, _LLOYD_ITERS + 1))},
fa AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent{_LLOYD_ITERS} c
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM fa
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM e0
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pc AS (
  SELECT q.query_id, q.qe, c.cell,
         {_cos_sql('q.qe', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN cent{_LLOYD_ITERS} c
),
probes AS (
  SELECT query_id, qe, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c_cos DESC, cell ASC) AS pr
    FROM pc
  ) WHERE pr <= {_IVF_PROBE}
),
pairs AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('p.qe', 'a.embedding')} AS cosine
  FROM probes p JOIN assigned a
    ON a.cell = p.cell AND a.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""

register(QuerySpec("ann_ivf_lloyd", ann_ivf_lloyd, _ANN_IVF_LLOYD_SQL,
                   doc="Exact-arithmetic distributed Lloyd IVF — the "
                       "oracle-verified twin of the MLlib-backed ann_ivf; "
                       "see operators/similarity.lloyd_centroids."))


# The trained-codebook literal is shared by ann_pq_adc and ann_ivf_pq —
# same (sample, init, one Lloyd step) model either way, so train it once
# per (session, sf_dir).
def _shared_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBSPACES,
        _pq_codebook_literal,
    )

    return shared(spark, ("pq_codebook", sf_dir),
                  lambda: _pq_codebook_literal(
                      _shared_valid_embeddings(spark, sf_dir), PQ_CODES,
                      PQ_SUBSPACES, 64,
                  ))


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn(
        _shared_valid_embeddings(spark, sf_dir), KNN_QUERY_IDS, KNN_K,
        code="pq", codebook=_shared_pq_codebook(spark, sf_dir),
    )


_PQ_M, _PQ_K, _PQ_SD = 8, 16, 8  # subspaces × codes, 64/8 dims each
_PQ_TRAIN_N = 256  # codebook training sample (operators/similarity.PQ_TRAIN_N)


def _pq_d2_rows_sql(x: str, c: str) -> str:
    """Per-dimension int64-quantized squared-difference term — summed over
    the subspace's rows it equals operators/similarity.pq_d2 exactly
    (int64 addition is order-independent)."""
    return (f"CAST(round(({x} - {c}) * ({x} - {c}) * 16777216) "
            f"AS BIGINT)")


# Shared DuckDB replay of the PQ training/encode pipeline — ONE copy
# interpolated by _ANN_PQ_ADC_SQL, _ANN_IVF_PQ_SQL and the residual
# variant so a future quantization/tie-break fix cannot drift the
# oracles apart (the _CURATION_SQL/_DATACARD_SQL quality_sql lesson).
# ``src`` is the (vec_id, m, d, x) sub-vector-row CTE the chain trains
# over and encodes (raw ``sub`` rows for the global codebook, residual
# rows for IVFPQ-residual); ``init_lo`` shifts the init-codeword id
# window, with codes renumbered back to 0..K-1 (see
# operators/similarity.pq_codebook init_offset — the residual chain
# must not seed every codeword with the seed centroids' all-zero
# residuals).


def _pq_train_chain_sql(src: str, init_lo: int = 0, steps: int = 1,
                        train_src: str | None = None) -> str:
    """``src`` is encoded by the final ``codes`` CTE; ``train_src``
    (defaults to ``src``) is what the codebook TRAINS on — the
    streamed-index replay trains on the base sub-corpus's residuals but
    encodes every vector against the frozen result."""
    ctes = [f"""train AS (
  SELECT * FROM {train_src or src} WHERE vec_id < {_PQ_TRAIN_N}
),
cb0 AS (
  SELECT vec_id - {init_lo} AS code, m, d, x AS c FROM train
  WHERE vec_id >= {init_lo} AND vec_id < {init_lo + _PQ_K}
)"""]
    for s in range(1, steps + 1):
        ctes.append(f"""asg{s} AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, i.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY sum({_pq_d2_rows_sql('s.x', 'i.c')}) ASC, i.code ASC
           ) AS rn
    FROM train s JOIN cb{s - 1} i ON s.m = i.m AND s.d = i.d
    GROUP BY s.vec_id, s.m, i.code
  ) WHERE rn = 1
),
cb{s} AS (
  SELECT a.m, a.code, s.d,
         round(CAST(sum(CAST(round(s.x * 16777216) AS BIGINT)) AS DOUBLE)
               / count(*) / 16777216, 6) AS c
  FROM asg{s} a JOIN train s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY a.m, a.code, s.d
)""")
    ctes.append(f"""refined AS (
  SELECT m, code, d, c FROM cb{steps}
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, r.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY sum({_pq_d2_rows_sql('s.x', 'r.c')}) ASC, r.code ASC
           ) AS rn
    FROM {src} s JOIN refined r ON s.m = r.m AND s.d = r.d
    GROUP BY s.vec_id, s.m, r.code
  ) WHERE rn = 1
)""")
    return ",\n".join(ctes)


_PQ_SUB_CTES = f"""ex AS (
  SELECT vec_id, unnest(range(len(embedding))) AS dim,
         CAST(embedding[unnest(range(len(embedding))) + 1] AS DOUBLE) AS x
  FROM embeddings
),
sub AS (
  SELECT vec_id, dim // {_PQ_SD} AS m, dim % {_PQ_SD} AS d, x FROM ex
)"""

_PQ_TRAIN_CTES = f"""{_PQ_SUB_CTES},
{_pq_train_chain_sql('sub')},
lut AS (
  SELECT s.vec_id AS query_id, s.m, r.code,
         sum({_pq_d2_rows_sql('s.x', 'r.c')}) AS lut_d2
  FROM sub s JOIN refined r ON s.m = r.m AND s.d = r.d
  WHERE s.vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
  GROUP BY s.vec_id, s.m, r.code
)"""

_ANN_PQ_ADC_SQL = f"""
WITH {_PQ_TRAIN_CTES},
adc AS (
  SELECT l.query_id, c.vec_id, CAST(sum(l.lut_d2) AS BIGINT) AS adc_d2
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, vec_id, adc_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d2 ASC, vec_id ASC) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""

register(QuerySpec("ann_pq_adc", ann_pq_adc, _ANN_PQ_ADC_SQL,
                   doc="Product-quantization ADC search — 4-byte codes "
                       "instead of 256-byte vectors at scan time; see "
                       "operators/similarity.knn(code=\"pq\")."))


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn(
        _shared_valid_embeddings(spark, sf_dir), KNN_QUERY_IDS, KNN_K,
        coarse="seed", code="pq", n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        codebook=_shared_pq_codebook(spark, sf_dir),
    )


_ANN_IVF_PQ_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
  FROM e0 WHERE vec_id < {_IVF_CELLS}
),
ac AS (
  SELECT e.vec_id, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM ac
  ) WHERE rn = 1
),
{_PQ_TRAIN_CTES},
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM e0
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pc AS (
  SELECT q.query_id, c.cell,
         {_cos_sql('q.qe', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c_cos DESC, cell ASC) AS pr
    FROM pc
  ) WHERE pr <= {_IVF_PROBE}
),
adc AS (
  SELECT p.query_id, c.vec_id, CAST(sum(l.lut_d2) AS BIGINT) AS adc_d2
  FROM codes c
  JOIN assigned av ON av.vec_id = c.vec_id
  JOIN probes p ON p.cell = av.cell
  JOIN lut l ON l.query_id = p.query_id
            AND l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> p.query_id
  GROUP BY p.query_id, c.vec_id
)
SELECT query_id, vec_id, adc_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d2 ASC, vec_id ASC) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""

register(QuerySpec("ann_ivf_pq", ann_ivf_pq, _ANN_IVF_PQ_SQL,
                   doc="IVF-PQ: probe-bounded scan fraction × PQ-bounded "
                       "scan footprint; see operators/similarity.knn."))


# The residual tier's two models — the Lloyd coarse centroids and the
# residual codebook (trained on r = x − centroid(cell(x))) — are
# distinct from the global-PQ codebook, so each is shared under its own
# key. Sharing the centroids matters most: the Lloyd fit is the one
# corpus-sized training pass, and the codebook trainer, the encoder and
# the probe all consume the same literals.
def _shared_valid_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checked corpus projection the ANN tiers share
    (operators/similarity.validated_embeddings): one materialization per
    (session, sf_dir), so every tier reads checkpointed blocks instead
    of re-scanning parquet, and a bad row fails once, here — the
    shared_shingle_sets pattern applied to the embedding corpus."""
    from bigdata2016w_spark.operators.similarity import validated_embeddings

    return shared(spark, ("valid_embeddings", sf_dir), lambda:
                  validated_embeddings(
                      load_table(spark, sf_dir, "embeddings")))


def _shared_lloyd_centroids(spark: SparkSession, sf_dir: str) -> list:
    from bigdata2016w_spark.operators.similarity import lloyd_centroids

    return shared(spark, ("lloyd_centroids", sf_dir), lambda: lloyd_centroids(
        _shared_valid_embeddings(spark, sf_dir),
        n_cells=_IVF_CELLS, n_iter=_LLOYD_ITERS,
    ))


def _shared_residual_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import residual_pq_codebook

    return shared(spark, ("residual_pq_codebook", sf_dir), lambda:
                  residual_pq_codebook(
                      _shared_valid_embeddings(spark, sf_dir),
                      n_cells=_IVF_CELLS, n_iter=_LLOYD_ITERS,
                      centroids=_shared_lloyd_centroids(spark, sf_dir),
                  ))


def ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _residual_knn(spark, sf_dir, KNN_K)


def _residual_knn(spark: SparkSession, sf_dir: str, k: int,
                  rerank: int | None = None) -> DataFrame:
    return knn(
        _shared_valid_embeddings(spark, sf_dir), KNN_QUERY_IDS, k,
        coarse="lloyd", code="residual_pq", rerank=rerank,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, n_iter=_LLOYD_ITERS,
        codebook=_shared_residual_pq_codebook(spark, sf_dir),
        centroids=_shared_lloyd_centroids(spark, sf_dir),
    )


_PQ_RES_STEPS = 2  # codebook Lloyd steps (operators/similarity.PQ_RES_STEPS)

# ONE copy of the residual IVF-PQ replay chain (coarse Lloyd fit →
# residual decomposition → residual codebook → per-probed-cell LUT →
# ADC), shared by the plain top-k query, the exact-rerank variant AND
# the streamed-index replay so the oracles can never drift apart (the
# quality_sql lesson again). ``fit_cond`` restricts the MODEL FIT
# (seed centroids, Lloyd rounds, codebook training) to a sub-corpus
# while every vector is still encoded and searched — exactly the
# streamed-index story, where write_ivfpq_index froze models trained on
# the base sub-corpus and the streaming sink encoded the rest against
# them. fit_cond=None produces the original full-corpus text unchanged.
def _ivf_pq_res_ctes(fit_cond: str | None = None) -> str:
    fit_src = "e0" if fit_cond is None else "ef"
    ef_cte = "" if fit_cond is None else f"""ef AS (
  SELECT * FROM e0 WHERE {fit_cond}
),
"""
    train_src = None if fit_cond is None else "rsubf"
    rsubf_cte = "" if fit_cond is None else f"""rsubf AS (
  SELECT * FROM rsub WHERE {fit_cond}
),
"""
    return f"""e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
{ef_cte}cent0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM {fit_src} WHERE vec_id < {_IVF_CELLS}
),
{','.join(_lloyd_round_sql(i, fit_src)
          for i in range(1, _LLOYD_ITERS + 1))},
cent AS (
  SELECT cell, centroid FROM cent{_LLOYD_ITERS}
),
ac AS (
  SELECT e.vec_id, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM ac
  ) WHERE rn = 1
),
{_PQ_SUB_CTES},
centd AS (
  SELECT cell, unnest(range(len(centroid))) AS dim,
         CAST(centroid[unnest(range(len(centroid))) + 1] AS DOUBLE) AS cx
  FROM cent
),
centsub AS (
  SELECT cell, dim // {_PQ_SD} AS m, dim % {_PQ_SD} AS d, cx FROM centd
),
rsub AS (
  SELECT s.vec_id, s.m, s.d, s.x - cs.cx AS x
  FROM sub s
  JOIN assigned av ON av.vec_id = s.vec_id
  JOIN centsub cs ON cs.cell = av.cell AND cs.m = s.m AND cs.d = s.d
),
{rsubf_cte}{_pq_train_chain_sql('rsub', _IVF_CELLS, _PQ_RES_STEPS,
                                       train_src=train_src)},
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM e0
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pc AS (
  SELECT q.query_id, c.cell,
         {_cos_sql('q.qe', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c_cos DESC, cell ASC) AS pr
    FROM pc
  ) WHERE pr <= {_IVF_PROBE}
),
qres AS (
  SELECT p.query_id, p.cell, s.m, s.d, s.x - cs.cx AS x
  FROM sub s
  JOIN probes p ON s.vec_id = p.query_id
  JOIN centsub cs ON cs.cell = p.cell AND cs.m = s.m AND cs.d = s.d
),
lut AS (
  SELECT qr.query_id, qr.cell, qr.m, r.code,
         sum({_pq_d2_rows_sql('qr.x', 'r.c')}) AS lut_d2
  FROM qres qr JOIN refined r ON r.m = qr.m AND r.d = qr.d
  GROUP BY qr.query_id, qr.cell, qr.m, r.code
),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(sum(l.lut_d2) AS BIGINT) AS adc_d2
  FROM codes c
  JOIN assigned av ON av.vec_id = c.vec_id
  JOIN lut l ON l.cell = av.cell AND l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)"""


_IVF_PQ_RES_CTES = _ivf_pq_res_ctes()

_ANN_IVF_PQ_RES_SQL = f"""
WITH {_IVF_PQ_RES_CTES}
SELECT query_id, vec_id, adc_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d2 ASC, vec_id ASC) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""

register(QuerySpec(
    "ann_ivf_pq_residual", ann_ivf_pq_residual, _ANN_IVF_PQ_RES_SQL,
    doc="Residual-aware IVF-PQ (Jégou et al., TPAMI'11): codes quantize "
        "x − centroid(cell), the LUT is per-(query, probed cell); higher "
        "recall than the global-codebook ann_ivf_pq at the same scan "
        "fraction/footprint; see "
        "operators/similarity.knn(code=\"residual_pq\")."))


# --- streamed-index probe: base codes + streaming-sink appends -------------
#
# The one r9 capability whose correctness rested on pytest alone: search a
# PERSISTED index whose base holds half the corpus and whose codes_stream
# holds the other half, appended by the streaming maintenance sink in TWO
# micro-batches. The oracle replays the whole thing statically — models fit
# on the base sub-corpus only (write_ivfpq_index froze them before the
# appends), every vector encoded against those frozen models (base codes at
# write time, streamed codes by ivfpq_append_sink), probes searching the
# union. The index dir is built once per (session, sf_dir).
def _streamed_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index
    from bigdata2016w_spark.streaming.index_sink import ivfpq_append_sink

    def build() -> str:
        root = scratch_dir("bigdata2016w_ivfpq_stream_")
        idx = f"{root}/idx"
        emb = _shared_valid_embeddings(spark, sf_dir)
        write_ivfpq_index(emb.where(F.col("vec_id") % 2 == 0), idx)
        stream_two_batches(
            spark, root,
            [emb.where(F.col("vec_id") % 4 == m) for m in (1, 3)],
            lambda stream, ckpt: ivfpq_append_sink(stream, idx, ckpt),
            f"{idx}/codes_stream",
        )
        return idx

    return shared(spark, ("streamed_ivfpq_index", sf_dir), build)


def ann_ivfpq_streamed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _streamed_ivfpq_index(spark, sf_dir)
    queries = _shared_valid_embeddings(spark, sf_dir).where(
        F.col("vec_id").isin(*KNN_QUERY_IDS)
    )
    return knn_from_index(
        spark, idx, queries, KNN_K, n_probe=_IVF_PROBE,
        include_streamed=True,
    )


_ANN_IVFPQ_STREAMED_SQL = f"""
WITH {_ivf_pq_res_ctes('vec_id % 2 = 0')}
SELECT query_id, vec_id, adc_d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d2 ASC, vec_id ASC) AS rn
  FROM adc
) WHERE rn <= {KNN_K}
"""

register(QuerySpec(
    "ann_ivfpq_streamed_probe", ann_ivfpq_streamed_probe,
    _ANN_IVFPQ_STREAMED_SQL,
    doc="ADC search over a persisted residual IVF-PQ index (base = even "
        "half) UNIONED with the streaming maintenance sink's two-batch "
        "appended codes (odd half), both sides pruned to the probed "
        "cells; the oracle replays the fit on the base sub-corpus and "
        "the frozen-model encode of every vector statically; see "
        "operators/similarity.knn_from_index and "
        "streaming/index_sink.ivfpq_append_sink."))


RERANK_FACTOR = 3


def ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _residual_knn(spark, sf_dir, KNN_K, rerank=RERANK_FACTOR)


_ANN_IVF_PQ_RERANK_SQL = f"""
WITH {_IVF_PQ_RES_CTES},
short AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_d2 ASC, vec_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {KNN_K * RERANK_FACTOR}
),
rer AS (
  SELECT s.query_id, s.vec_id,
         {_cos_sql('q.qe', 'e.embedding')} AS cosine
  FROM short s
  JOIN e0 e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
)
SELECT query_id, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM rer
) WHERE rn <= {KNN_K}
"""

register(QuerySpec(
    "ann_ivf_pq_rerank", ann_ivf_pq_rerank, _ANN_IVF_PQ_RERANK_SQL,
    doc="Two-stage ANN: residual IVF-PQ ADC shortlist (k×3 candidates "
        "from code bytes only) exactly re-ranked by true cosine over "
        "just the shortlist rows — the standard production refinement "
        "step; see operators/similarity.knn(rerank)."))


SEMDEDUP_THRESHOLD = 0.4  # same bar as embedding_near_dupes


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import semdedup_drop_list

    return semdedup_drop_list(
        load_table(spark, sf_dir, "embeddings"), SEMDEDUP_THRESHOLD
    )


_SEMDEDUP_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
  FROM e0 WHERE vec_id < {_IVF_CELLS}
),
ac AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM ac
  ) WHERE rn = 1
),
pairs AS (
  SELECT b.vec_id AS dropped_id, b.cell AS cell, a.vec_id AS witness_id,
         {_cos_sql('a.embedding', 'b.embedding')} AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT dropped_id, cell, witness_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY dropped_id
                               ORDER BY cosine DESC, witness_id ASC) AS rn
  FROM pairs WHERE cosine >= {SEMDEDUP_THRESHOLD}
) WHERE rn = 1
"""

register(QuerySpec("semantic_dedup", semantic_dedup, _SEMDEDUP_SQL,
                   doc="SemDeDup cluster-scoped embedding dedup drop "
                       "list; see operators/similarity.semdedup_drop_list."))


def corpus_curation_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation with the SEMANTIC near-dup tier: the shared quality gate
    (:func:`quality_gated_stats`) minus every doc on the
    :func:`semantic_dedup` embedding drop list (doc_id == vec_id, the
    corpus convention) — the registered twin of the CLI's
    ``--dedup semdedup`` export tier, so the one-command export and the
    certified query surface derive survivors identically. Returns
    (doc_id, n_tokens, quality), the corpus_curation shape."""
    losers = semantic_dedup(spark, sf_dir).select(
        F.col("dropped_id").alias("doc_id")
    )
    return (
        quality_gated_stats(spark, sf_dir)
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality")
    )


# the drop list is the ENTIRE _SEMDEDUP_SQL statement, interpolated as a
# CTE body so the two oracles can never drift (the quality_sql lesson)
_CURATION_SEMDEDUP_SQL = f"""
WITH drops AS ({_SEMDEDUP_SQL}),
stats AS (
  SELECT doc_id, len({_TOK}) AS n_tokens,
         {quality_sql('text')} AS quality
  FROM documents WHERE len({_TOK}) > 0
)
SELECT doc_id, n_tokens, quality FROM stats
WHERE quality >= {QUALITY_MIN}
  AND doc_id NOT IN (SELECT dropped_id FROM drops)
"""

register(QuerySpec("corpus_curation_semdedup", corpus_curation_semdedup,
                   _CURATION_SEMDEDUP_SQL,
                   doc=corpus_curation_semdedup.__doc__))


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import hard_negatives

    return hard_negatives(
        load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K
    )


_HARD_NEG_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS anchor_label, embedding AS qe
  FROM embeddings
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pairs AS (
  SELECT q.query_id, q.anchor_label, e.vec_id, e.label AS neg_label,
         {_cos_sql('q.qe', 'e.embedding')} AS cosine
  FROM q JOIN embeddings e ON e.label <> q.anchor_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, anchor_label, vec_id, neg_label, cosine
FROM ranked WHERE rn <= {KNN_K}
"""

register(QuerySpec("embedding_hard_negatives", embedding_hard_negatives,
                   _HARD_NEG_SQL,
                   doc="Hard-negative mining for contrastive training; "
                       "see operators/similarity.hard_negatives."))


def documents_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-shard) dedup: classify an incoming shard
    (doc_id % 4 == 0 stands in for "today's crawl") against the accepted
    reference corpus (every other doc) — the admission gate a production
    pipeline runs per ingest batch. Status per incoming doc:
    'exact_dup' (text already in the reference — broadcast-able semi-join
    on text), else 'near_dup' (Jaccard ≥ 0.5 against some reference doc
    via the cross-corpus PPJoin, which never joins intra-side pairs),
    else 'kept'. Work is O(cross candidates) — independent of the
    reference corpus's internal duplication — which is what makes daily
    re-dedup affordable at 100 TB."""
    from bigdata2016w_spark.operators.dedup import jaccard_cross_near_dupes

    docs = load_table(spark, sf_dir, "documents")
    inc = docs.where(F.col("doc_id") % 4 == 0)
    ref = docs.where(F.col("doc_id") % 4 != 0)
    exact = (
        inc.join(ref.select("text").distinct(), "text", "left_semi")
        .select("doc_id").withColumn("e", F.lit(1))
    )
    near = (
        jaccard_cross_near_dupes(ref, inc, JACCARD_THRESHOLD)
        .select(F.col("probe_id").alias("doc_id")).distinct()
        .withColumn("nd", F.lit(1))
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("e") == 1, "exact_dup")
            .when(F.col("nd") == 1, "near_dup")
            .otherwise("kept").alias("status"),
        )
    )


_INCR_DEDUP_SQL = f"""
WITH {_SHINGLES},
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
nd AS (
  SELECT DISTINCT a.doc_id FROM s a JOIN s b
    ON a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
               AS DOUBLE) >= {JACCARD_THRESHOLD}
),
ex AS (
  SELECT DISTINCT i.doc_id FROM inc i JOIN ref r ON i.text = r.text
)
SELECT i.doc_id,
       CASE WHEN i.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
            WHEN i.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup'
            ELSE 'kept' END AS status
FROM inc i
"""

register(QuerySpec("documents_incremental_dedup", documents_incremental_dedup,
                   _INCR_DEDUP_SQL,
                   doc=documents_incremental_dedup.__doc__))


CONTAINMENT_THRESHOLD = 0.9


def documents_containment_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup over the documents corpus: ordered
    pairs where ≥90% of the contained doc's shingles appear in the
    container — the superset-duplication tier symmetric Jaccard misses
    (see operators/dedup.containment_near_dupes)."""
    from bigdata2016w_spark.operators.dedup import containment_near_dupes

    return containment_near_dupes(
        load_table(spark, sf_dir, "documents"),
        CONTAINMENT_THRESHOLD,
        shingled=shared_shingle_sets(spark, sf_dir),
    )


_CONTAINMENT_SQL = f"""
WITH {_SHINGLES}
SELECT doc_contained, doc_container, containment FROM (
  SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) AS DOUBLE) AS containment
  FROM s a JOIN s b ON a.doc_id <> b.doc_id
) WHERE containment >= {CONTAINMENT_THRESHOLD}
"""

register(QuerySpec("documents_containment_dupes", documents_containment_dupes,
                   _CONTAINMENT_SQL,
                   doc=documents_containment_dupes.__doc__))


# ---- ANN evaluation & quantization ------------------------------------
# Evaluation queries a deployed ANN stack needs next to the indexes
# themselves: measured recall of the approximate path against the exact
# one, a kNN-vote labeler (weak supervision / label propagation over an
# embedding column), and int8 scalar quantization with its error report
# (the 4x-compression storage tier below PQ's 32x).


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_hits, recall): recall@k of IVF-Flat against the
    brute-force ground truth — the eval loop that decides n_probe. Both
    sides are the registered operators (same plans as ann_bruteforce /
    ann_ivf_flat); the comparison is one k-row-per-query equi-join, so
    the eval costs the two searches plus epsilon."""
    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint the ground truth: it feeds BOTH the hit join and the
    # per-query base, and uncheckpointed the whole brute-force subplan
    # executed once per consumer (r12; the semdedup shared-intermediate
    # convention — rows are identical, the subtree just runs once)
    bf = knn(emb, KNN_QUERY_IDS, KNN_K).select(
        "query_id", "vec_id"
    ).localCheckpoint(eager=False)
    iv = knn(emb, KNN_QUERY_IDS, KNN_K, coarse="seed").select(
        "query_id", "vec_id")
    hits = bf.join(iv, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    base = bf.select("query_id").distinct()
    n = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        n.alias("n_hits"),
        (n.cast("double") / F.lit(float(KNN_K))).alias("recall"),
    )


_ANN_RECALL_SQL = f"""
WITH bf AS ({_ANN_SQL}),
iv AS ({_ANN_IVF_FLAT_SQL}),
hits AS (
  SELECT bf.query_id, count(*) AS n_hits
  FROM bf JOIN iv USING (query_id, vec_id)
  GROUP BY bf.query_id
),
base AS (SELECT DISTINCT query_id FROM bf)
SELECT b.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {float(KNN_K)!r} AS recall
FROM base b LEFT JOIN hits h USING (query_id)
"""

register(QuerySpec("ann_recall_eval", ann_recall_eval, _ANN_RECALL_SQL,
                   doc=ann_recall_eval.__doc__))


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, predicted_label, votes, true_label): majority label of
    the k exact nearest neighbors (ties -> smaller label) next to the
    query's own label — the kNN classifier / label-propagation primitive
    over an embedding column. Neighbor search is the broadcast-queries
    brute-force plan (corpus never shuffles); the vote is a k-row-per-
    query hash agg + top-1 window."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    nn = knn(emb, KNN_QUERY_IDS, KNN_K)
    # a NULL label is not a vote — and keeping it would diverge the
    # engines at the tie-break (Spark ASC sorts NULLs first, DuckDB's
    # default sorts them last)
    votes = (
        nn.join(
            emb.select("vec_id", "label").where(F.col("label").isNotNull()),
            "vec_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    pred = votes.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id", F.col("label").alias("predicted_label"),
        "votes", "true_label",
    )


_KNN_VOTE_SQL = f"""
WITH nn AS ({_ANN_SQL}),
votes AS (
  SELECT n.query_id, e.label, count(*) AS votes
  FROM nn n JOIN embeddings e USING (vec_id)
  WHERE e.label IS NOT NULL
  GROUP BY n.query_id, e.label
),
pick AS (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label ASC) AS rn
  FROM votes
)
SELECT p.query_id, p.label AS predicted_label,
       CAST(p.votes AS BIGINT) AS votes, t.label AS true_label
FROM pick p JOIN embeddings t ON t.vec_id = p.query_id
WHERE p.rn = 1
"""

register(QuerySpec("knn_label_vote", knn_label_vote, _KNN_VOTE_SQL,
                   doc=knn_label_vote.__doc__))


def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, n, scale, max_abs_err, mean_abs_err): symmetric per-dimension
    int8 scalar quantization of the embedding column with its
    reconstruction-error report — scale = max|x|/127 per dim, q =
    round(x/scale) in [-127, 127], recon = q*scale. Two passes over the
    exploded column (scales agg, then error agg against the broadcast
    64-row scale table); both aggs partial map-side. The mean error uses
    the engine's exact-mean pattern (sum of round(err*2^24) int64, one
    final division) so it is order-independent and oracle-bit-identical;
    max is order-independent natively. An all-zero dimension (scale 0)
    quantizes to 0 with zero error rather than NaN."""
    from pyspark.sql.functions import broadcast

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    ex = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select("dim", F.col("xf").cast("double").alias("x"))
    scales = ex.groupBy("dim").agg(
        (F.max(F.abs(F.col("x"))) / F.lit(127.0)).alias("scale")
    )
    err = (
        ex.join(broadcast(scales), "dim")
        .select(
            "dim", "scale",
            F.when(F.col("scale") == 0.0, F.lit(0.0))
            .otherwise(
                F.abs(
                    F.col("x")
                    - F.round(F.col("x") / F.col("scale")) * F.col("scale")
                )
            )
            .alias("e"),
        )
    )
    return (
        err.groupBy("dim", "scale")
        .agg(
            F.count("*").alias("n"),
            F.max("e").alias("max_abs_err"),
            F.sum(F.round(F.col("e") * F.lit(16777216.0)).cast("long"))
            .alias("se"),
        )
        .select(
            "dim", "n", "scale", "max_abs_err",
            (
                F.col("se").cast("double") / F.col("n").cast("double")
                / F.lit(16777216.0)
            ).alias("mean_abs_err"),
        )
    )


_INT8_QUANT_SQL = """
WITH ex AS (
  SELECT CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
         CAST(embedding[unnest(range(len(embedding))) + 1] AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL
),
scales AS (
  SELECT dim, max(abs(x)) / 127.0 AS scale FROM ex GROUP BY dim
),
err AS (
  SELECT e.dim, s.scale,
         CASE WHEN s.scale = 0.0 THEN 0.0
              ELSE abs(e.x - round(e.x / s.scale) * s.scale) END AS e
  FROM ex e JOIN scales s USING (dim)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n, scale,
       max(e) AS max_abs_err,
       CAST(CAST(sum(CAST(round(e * 16777216.0) AS BIGINT)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) / 16777216.0 AS DOUBLE)
         AS mean_abs_err
FROM err
GROUP BY dim, scale
"""

register(QuerySpec("embedding_int8_quant", embedding_int8_quant,
                   _INT8_QUANT_SQL, doc=embedding_int8_quant.__doc__))


TRUNC_DIMS = 16


def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_hits, recall): recall@k of brute-force search over
    the FIRST 16 of 64 embedding dimensions against full-dimension
    ground truth — the Matryoshka/truncation eval that decides whether a
    4x cheaper scan (and 4x smaller index) keeps enough neighborhood
    structure. Same two-search + k-row-join shape as ann_recall_eval;
    the truncated side is the same exact knn plan over a sliced
    embedding column, so the scan still never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    full = knn(emb, KNN_QUERY_IDS, KNN_K).select(
        "query_id", "vec_id"
    )
    trunc = knn(
        emb.select(
            "vec_id", F.slice("embedding", 1, TRUNC_DIMS).alias("embedding")
        ),
        KNN_QUERY_IDS, KNN_K,
    ).select("query_id", "vec_id")
    hits = full.join(trunc, ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hits"))
    n = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return full.select("query_id").distinct().join(
        hits, "query_id", "left"
    ).select(
        "query_id", n.alias("n_hits"),
        (n.cast("double") / F.lit(float(KNN_K))).alias("recall"),
    )


def _bf_search_sql(src: str) -> str:
    """Parenthesized brute-force kNN SELECT over any (vec_id, embedding)
    relation — the _ANN_SQL shape, reusable as a CTE body (DuckDB allows
    a nested WITH inside the parens)."""
    return f"""(
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM {src}
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pairs AS (
  SELECT q.query_id, e.vec_id, {_cos_sql('q.qe', 'e.embedding')} AS cosine
  FROM q JOIN {src} e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id FROM ranked WHERE rn <= {KNN_K})"""


_ANN_TRUNC_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
e16 AS (
  SELECT vec_id, embedding[1:{TRUNC_DIMS}] AS embedding FROM e0
),
fullk AS ({_bf_search_sql('e0')}),
trunck AS ({_bf_search_sql('e16')}),
hits AS (
  SELECT f.query_id, count(*) AS n_hits
  FROM fullk f JOIN trunck t USING (query_id, vec_id)
  GROUP BY f.query_id
),
base AS (SELECT DISTINCT query_id FROM fullk)
SELECT b.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {float(KNN_K)!r} AS recall
FROM base b LEFT JOIN hits h USING (query_id)
"""

register(QuerySpec("ann_dim_truncation_recall", ann_dim_truncation_recall,
                   _ANN_TRUNC_SQL, doc=ann_dim_truncation_recall.__doc__))


# ---------------------------------------------------- IVF probe sweep

_SWEEP_PROBES = (1, 2, 4, 8)


def ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata2016w_spark.operators.similarity import (
        ivf_probe_recall_sweep,
    )

    return ivf_probe_recall_sweep(
        load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS, KNN_K,
        n_cells=_IVF_CELLS, probes=_SWEEP_PROBES,
    )


# same CTE stack as _ANN_IVF_FLAT_SQL up to probe ranking, but the probe
# rank rides onto the candidates and every sweep threshold is a filter
# over that one candidate set — the oracle replays the single-pass trick
_SWEEP_SQL = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
  FROM e0 WHERE vec_id < {_IVF_CELLS}
),
ac AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {_cos_sql('e.embedding', 'c.centroid')} AS a_cos
  FROM e0 e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY a_cos DESC, cell ASC) AS rn
    FROM ac
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM e0
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
pc AS (
  SELECT q.query_id, q.qe, c.cell,
         {_cos_sql('q.qe', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT query_id, qe, cell, pr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c_cos DESC, cell ASC) AS pr
    FROM pc
  ) WHERE pr <= {max(_SWEEP_PROBES)}
),
cands AS (
  SELECT p.query_id, a.vec_id, p.pr,
         {_cos_sql('p.qe', 'a.embedding')} AS cosine
  FROM probes p JOIN assigned a
    ON a.cell = p.cell AND a.vec_id <> p.query_id
),
t AS (SELECT unnest([{', '.join(str(t) for t in sorted(_SWEEP_PROBES))}])
        AS n_probe),
ranked AS (
  SELECT n_probe, query_id, vec_id FROM (
    SELECT t.n_probe, c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY t.n_probe, c.query_id
                              ORDER BY c.cosine DESC, c.vec_id ASC) AS rn
    FROM cands c JOIN t ON c.pr <= t.n_probe
  ) WHERE rn <= {KNN_K}
),
bf AS ({_ANN_SQL}),
hits AS (
  SELECT r.n_probe, count(*) AS total_hits
  FROM ranked r JOIN bf USING (query_id, vec_id)
  GROUP BY r.n_probe
),
nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM bf)
SELECT t.n_probe,
       n_queries,
       CAST(coalesce(h.total_hits, 0) AS BIGINT) AS total_hits,
       CAST(coalesce(h.total_hits, 0) AS DOUBLE)
         / CAST(n_queries * {KNN_K} AS DOUBLE) AS avg_recall
FROM t LEFT JOIN hits h ON t.n_probe = h.n_probe CROSS JOIN nq
WHERE (SELECT count(*) FROM cent) > 0
ORDER BY t.n_probe
"""

register(QuerySpec(
    "ann_ivf_probe_sweep", ann_ivf_probe_sweep, _SWEEP_SQL,
    doc="Recall@k vs n_probe tuning curve in one candidate pass "
        "(operators/similarity.ivf_probe_recall_sweep).",
))


# ------------------------------------------- streamed PPJoin admission
#
# The LAST streaming admission surface certified end-to-end (after r11's
# winnow / IVM / sketch-partial queries): streaming/ingest's document
# dedup-admission sink — the STRONG (whole-doc Jaccard) gate, vs the
# winnow gate's cheap long-span tier — run over a real two-micro-batch
# documents stream, returning the per-batch admission ledger. The oracle
# replays both batches statically with the O(n²) Jaccard formulation the
# PPJoin is provably equal to.
def _streamed_jaccard_corpus(spark: SparkSession, sf_dir: str) -> str:
    from bigdata2016w_spark.streaming.ingest import dedup_admission_sink

    def build() -> str:
        root = scratch_dir("bigdata2016w_jaccard_admit_")
        acc = f"{root}/accepted"
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        # admission is ORDER-DEPENDENT (batch 0's survivors gate batch
        # 1): stream_two_batches pins the even half as batch 0
        stream_two_batches(
            spark, root,
            [docs.where(F.col("doc_id") % 2 == m) for m in (0, 1)],
            lambda stream, ckpt: dedup_admission_sink(
                stream, acc, ckpt, threshold=JACCARD_THRESHOLD),
            acc,
        )
        return acc

    return shared(spark, ("streamed_jaccard_corpus", sf_dir), build)


def documents_jaccard_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission ledger (batch, doc_id) of the streamed PPJoin dedup
    gate: documents arrive as two micro-batches (even doc_ids then odd);
    each batch is exact-deduped, near-dup-deduped in-batch (Jaccard ≥
    0.5, lower doc_id survives), then gated against everything already
    accepted (exact text + cross-corpus PPJoin, probe-vs-index only).
    The oracle replays both batches statically with plain O(n²) Jaccard
    SQL — lossless-equal to the prefix-filtered PPJoin — so a MATCH
    certifies the streamed admission chain including the batch-stamped
    replay-safe layout. At 100 TB the accepted corpus is bucketed by its
    prefix-index keys and each micro-batch probes only matching buckets;
    see streaming/ingest.admit_batch."""
    from bigdata2016w_spark.streaming.ingest import read_admission_ledger

    return read_admission_ledger(
        spark, _streamed_jaccard_corpus(spark, sf_dir),
        "doc_id bigint, text string", "doc_id",
    )


def _jaccard_admit_sql() -> str:
    """Static two-batch replay. One whole-corpus shingle CTE (shingles
    are per-doc independent) filtered per tier by doc_id predicates;
    exact-dedup survivor sets expressed as min-per-text subqueries; the
    Jaccard tiers as O(n²) list_intersect joins (the registered
    dedup_jaccard twin's formulation — lossless-equal to the PPJoin).
    NOT EXISTS everywhere a NULL could poison three-valued logic."""
    b0a = ("d.doc_id % 2 = 0 AND d.doc_id IN (SELECT min(doc_id) "
           "FROM documents WHERE doc_id % 2 = 0 GROUP BY text)")
    b1a = ("d.doc_id % 2 = 1 AND d.doc_id IN (SELECT min(doc_id) "
           "FROM documents WHERE doc_id % 2 = 1 GROUP BY text)")
    jac = ("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
           "CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) "
           f"AS DOUBLE) >= {JACCARD_THRESHOLD}")
    return f"""
WITH {_SHINGLES},
b0a AS (SELECT d.doc_id, d.text FROM documents d WHERE {b0a}),
drop0 AS (
  SELECT DISTINCT b.doc_id FROM s a JOIN s b
    ON a.doc_id < b.doc_id
   AND EXISTS (SELECT 1 FROM b0a x WHERE x.doc_id = a.doc_id)
   AND EXISTS (SELECT 1 FROM b0a x WHERE x.doc_id = b.doc_id)
  WHERE {jac}
),
s0 AS (
  SELECT doc_id, text FROM b0a d
  WHERE NOT EXISTS (SELECT 1 FROM drop0 x WHERE x.doc_id = d.doc_id)
),
b1a AS (SELECT d.doc_id, d.text FROM documents d WHERE {b1a}),
drop1 AS (
  SELECT DISTINCT b.doc_id FROM s a JOIN s b
    ON a.doc_id < b.doc_id
   AND EXISTS (SELECT 1 FROM b1a x WHERE x.doc_id = a.doc_id)
   AND EXISTS (SELECT 1 FROM b1a x WHERE x.doc_id = b.doc_id)
  WHERE {jac}
),
b1c AS (
  SELECT doc_id, text FROM b1a d
  WHERE NOT EXISTS (SELECT 1 FROM drop1 x WHERE x.doc_id = d.doc_id)
    AND NOT EXISTS (SELECT 1 FROM s0 WHERE s0.text = d.text)
),
crossdrop AS (
  SELECT DISTINCT b.doc_id FROM s a JOIN s b
    ON EXISTS (SELECT 1 FROM s0 x WHERE x.doc_id = a.doc_id)
   AND EXISTS (SELECT 1 FROM b1c x WHERE x.doc_id = b.doc_id)
  WHERE {jac}
),
s1 AS (
  SELECT doc_id FROM b1c d
  WHERE NOT EXISTS (SELECT 1 FROM crossdrop x WHERE x.doc_id = d.doc_id)
)
SELECT CAST(0 AS BIGINT) AS batch, doc_id FROM s0
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM s1
ORDER BY batch, doc_id
"""


register(QuerySpec("documents_jaccard_admission",
                   documents_jaccard_admission, _jaccard_admit_sql(),
                   doc=documents_jaccard_admission.__doc__))


# ------------------------------------------ streamed embedding admission
#
# The LAST pytest-only streaming surface certified end-to-end (after the
# jaccard/winnow admission gates and the streamed sketch partials):
# streaming/ingest.embedding_admission_sink — SemDeDup AT INGEST — run
# over a real two-micro-batch embeddings stream, returning the per-batch
# admission ledger. Both tiers already have registered oracles
# (embedding_near_dupes; the cross tier shares its plane arithmetic);
# this query certifies their COMPOSITION under the streaming machinery —
# in-batch cosine dedup → cross-corpus multiprobe gate, batch-stamped
# replay-safe subdirs — by replaying both batches statically in SQL.
def _streamed_embedding_corpus(spark: SparkSession, sf_dir: str) -> str:
    from bigdata2016w_spark.streaming.ingest import embedding_admission_sink

    def build() -> str:
        root = scratch_dir("bigdata2016w_emb_admit_")
        acc = f"{root}/accepted"
        vecs = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        # admission is ORDER-DEPENDENT (batch 0's survivors gate batch
        # 1): stream_two_batches pins the even half as batch 0
        stream_two_batches(
            spark, root,
            [vecs.where(F.col("vec_id") % 2 == m) for m in (0, 1)],
            lambda stream, ckpt: embedding_admission_sink(
                stream, acc, ckpt, threshold=SEMDEDUP_THRESHOLD),
            acc,
        )
        return acc

    return shared(spark, ("streamed_embedding_corpus", sf_dir), build)


def embeddings_semdedup_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Admission ledger (batch, vec_id) of the streamed embedding gate
    (ingest-time SemDeDup): vectors arrive as two micro-batches (even
    vec_ids then odd); each batch is cosine-deduped in-batch (LSH
    blocking + exact cosine ≥ 0.4 verify, lower vec_id survives), then
    gated against every already-accepted vector (cross-corpus probe with
    1-bit multiprobe, probe-vs-index only). The oracle replays both
    batches statically — the SAME 4-hyperplane bucket arithmetic the
    adaptive operator resolves to at gate scale (N ≤ 512 per side →
    P = 4, one table; the embedding_near_dupes oracle convention) — so
    a MATCH certifies the streamed admission chain including the
    batch-stamped replay-safe layout. At 100 TB the accepted corpus is
    bucketed by plane signature and each micro-batch probes only its
    P+1 buckets; see streaming/ingest.admit_embedding_batch."""
    from bigdata2016w_spark.streaming.ingest import read_admission_ledger

    return read_admission_ledger(
        spark, _streamed_embedding_corpus(spark, sf_dir),
        "vec_id bigint, embedding array<float>", "vec_id",
    )


def _emb_admit_sql() -> str:
    """Static two-batch replay. One whole-corpus bucket/norm CTE (planes
    are per-vector independent) filtered per tier by vec_id parity; the
    in-batch tiers are same-bucket self-joins, the cross tier the 1-bit
    multiprobe of operators/similarity.embedding_cross_near_dupes. The
    plane literals are _LSH_PLANES_LIT — the identical seed-42 4-plane
    table both Spark tiers resolve to at gate scale."""
    cos_xy = f"{_dot_sql('x.embedding', 'y.embedding')} / (x.n * y.n)"
    cos_pi = f"{_dot_sql('p.embedding', 'i.embedding')} / (p.n * i.n)"
    probe_list = ("[bucket, " + ", ".join(
        f"xor(bucket, {1 << i})" for i in range(4)) + "]")
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_bucket_sql('embedding', _LSH_PLANES_LIT)} AS bucket,
         sqrt({_dot_sql('embedding', 'embedding')}) AS n
  FROM embeddings
),
drop0 AS (
  SELECT DISTINCT y.vec_id FROM e x JOIN e y
    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 0
    AND {cos_xy} >= {SEMDEDUP_THRESHOLD}
),
s0 AS (
  SELECT vec_id, embedding, bucket, n FROM e
  WHERE vec_id % 2 = 0
    AND NOT EXISTS (SELECT 1 FROM drop0 d WHERE d.vec_id = e.vec_id)
),
drop1 AS (
  SELECT DISTINCT y.vec_id FROM e x JOIN e y
    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE x.vec_id % 2 = 1 AND y.vec_id % 2 = 1
    AND {cos_xy} >= {SEMDEDUP_THRESHOLD}
),
b1c AS (
  SELECT vec_id, embedding, bucket, n FROM e
  WHERE vec_id % 2 = 1
    AND NOT EXISTS (SELECT 1 FROM drop1 d WHERE d.vec_id = e.vec_id)
),
probes AS (
  SELECT vec_id, embedding, n, unnest({probe_list}) AS bucket FROM b1c
),
crossdrop AS (
  SELECT DISTINCT p.vec_id FROM probes p
  JOIN s0 i ON i.bucket = p.bucket
  WHERE {cos_pi} >= {SEMDEDUP_THRESHOLD}
),
s1 AS (
  SELECT vec_id FROM b1c
  WHERE NOT EXISTS (SELECT 1 FROM crossdrop d WHERE d.vec_id = b1c.vec_id)
)
SELECT CAST(0 AS BIGINT) AS batch, vec_id FROM s0
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch, vec_id FROM s1
ORDER BY batch, vec_id
"""


register(QuerySpec("embeddings_semdedup_admission",
                   embeddings_semdedup_admission, _emb_admit_sql(),
                   doc=embeddings_semdedup_admission.__doc__))


# ---------------------------------------------- filtered serve path
#
# Metadata-filtered ANN served from the PERSISTED index: the codes scan
# is statically pruned to the probed cells AND semi-joined against the
# label sidecar ({index}/meta, same cell partitioning) with the
# predicate pushed into the sidecar's parquet scan — the production
# "filtered vector search" pattern (in-tenant / in-language top-k) at
# its disk-bounded cost: selectivity x probed-fraction of the corpus.
def _filtered_serve_index(spark: SparkSession, sf_dir: str) -> str:
    from bigdata2016w_spark.sources.sinks import write_ivfpq_index

    def build() -> str:
        idx = scratch_dir("bigdata2016w_filtered_idx_") + "/idx"
        write_ivfpq_index(
            load_table(spark, sf_dir, "embeddings"), idx,
            meta_cols=("label",),
        )
        return idx

    return shared(spark, ("filtered_serve_index", sf_dir), build)


def ann_ivfpq_filtered_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _filtered_serve_index(spark, sf_dir)
    queries = _shared_valid_embeddings(spark, sf_dir).where(
        F.col("vec_id").isin(*KNN_QUERY_IDS)
    )
    return knn_from_index(
        spark, idx, queries, KNN_K, n_probe=_IVF_PROBE,
        candidate_filter=F.col("label").isin(*ANN_FILTER_LABELS),
    )


# the full-fit residual-PQ replay with the label predicate applied to
# the candidate set BEFORE ranking (pre-filter semantics, exactly the
# operator's sidecar semi-join)
_ANN_IVFPQ_FILTERED_SQL = f"""
WITH {_IVF_PQ_RES_CTES}
SELECT query_id, vec_id, adc_d2 FROM (
  SELECT a.query_id, a.vec_id, a.adc_d2,
         row_number() OVER (PARTITION BY a.query_id
                            ORDER BY a.adc_d2 ASC, a.vec_id ASC) AS rn
  FROM adc a JOIN embeddings em ON a.vec_id = em.vec_id
  WHERE em.label IN {ANN_FILTER_LABELS}
) WHERE rn <= {KNN_K}
"""

register(QuerySpec(
    "ann_ivfpq_filtered_serve", ann_ivfpq_filtered_serve,
    _ANN_IVFPQ_FILTERED_SQL,
    doc="Metadata-filtered ADC search served from the persisted "
        "IVF-PQ index via its cell-partitioned label sidecar; see "
        "operators/similarity.knn_from_index(candidate_filter) "
        "and sources/sinks.write_ivfpq_index(meta_cols)."))
