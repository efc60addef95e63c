"""Deterministic sampling / splitting for training pipelines.

Seeded ``rand()``/``randomSplit`` sampling is partition-order dependent —
repartition the input and the sample changes. These ops hash the KEY
instead (multiplicative Knuth hash in plain int64 arithmetic), so the
selection is a pure function of the row: reproducible across engines,
partitionings, and cluster sizes — which also makes them oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata2016w_spark.registry import QuerySpec, register
from bigdata2016w_spark.sources.catalog import load_table

KNUTH = 2654435761  # 2^32 / golden ratio
TRAIN_PCT = 80
STRATA_PCT = {"en": 30, "de": 60, "es": 60, "fr": 60, "zh": 60}


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic 0..buckets-1 bucket from an integer key.

    The key is reduced mod 2^31 BEFORE the Knuth multiply, so the
    product is ≤ (2^31)·KNUTH ≈ 5.7e18 < 2^63 for EVERY int64 key —
    no overflow on either engine (DuckDB errors on int64 overflow
    rather than wrapping, so the pre-reduction is what keeps the oracle
    runnable at all on large ids; (k mod m)·h ≡ k·h (mod m) keeps the
    bucket value identical for keys < 2^31). Bucket quality over a
    keyspace wider than 2^31 degrades to the low-31-bits distribution;
    for unbounded adversarial keyspaces ``pmod(xxhash64(key), buckets)``
    avalanches fully but trades away the DuckDB oracle.
    """
    return (((key % F.lit(2147483648)) * F.lit(KNUTH))
            % F.lit(2147483648)) % F.lit(buckets)


def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 train/test tag per document — stable under any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.when(b < TRAIN_PCT, "train").otherwise("test").alias("split"),
    )


def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates (downsample dominant 'en' to 30%,
    others 60%) — the stratified-sampling shape of corpus rebalancing."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    pct = F.create_map(
        *[F.lit(x) for kv in STRATA_PCT.items() for x in kv]
    )[F.col("lang")]
    return docs.where(b < pct).select("doc_id", "lang")


_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN (((doc_id % 2147483648) * {KNUTH}) % 2147483648) % 100 < {TRAIN_PCT}
            THEN 'train' ELSE 'test' END AS split
FROM documents
"""

_STRATA_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in STRATA_PCT.items()
)

_STRATA_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE (((doc_id % 2147483648) * {KNUTH}) % 2147483648) % 100
      < (CASE {_STRATA_CASE} ELSE 0 END)
"""

register(QuerySpec("doc_train_test_split", doc_train_test_split, _SPLIT_SQL,
                   doc=doc_train_test_split.__doc__))
register(QuerySpec("documents_stratified_sample", documents_stratified_sample,
                   _STRATA_SQL, doc=documents_stratified_sample.__doc__))


# Token-budget corpus mixing: target share of the sampled token budget
# per source (Pile/Dolma-style data mixing). Sources not listed share the
# remainder uniformly via MIX_DEFAULT_W; the budget is a fraction of the
# corpus's total tokens so the query is scale-free.
MIX_WEIGHTS = {"src0": 0.10, "src1": 0.10, "src2": 0.10,
               "src3": 0.10, "src4": 0.10}
MIX_DEFAULT_W = 0.5 / 15
MIX_BUDGET_FRAC = 0.4
MIX_DRAW = 1_000_000


def documents_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus mixing: sample each source at the rate
    that hits its target share of a global token budget (upsampling
    capped at keep-everything), the data-mixing step of assembling a
    training corpus from heterogeneous sources.

    Shape: one tiny per-source aggregate (exact int64 token sums) +
    window total → per-source keep-rate computed IN-PLAN (no driver
    round-trip) → broadcast back onto the corpus → map-side Knuth-hash
    Bernoulli draw. The only shuffle is the 20-row source aggregate;
    selection is a pure function of doc_id, so the sample is identical
    across engines, partitionings, and cluster sizes. At 100 TB the
    supply table is metadata-sized and the draw never moves the corpus.
    """
    from pyspark.sql.window import Window

    from bigdata2016w_spark.functions.tokenizer import tokenize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokenize("text")).alias("n_tokens")
    )
    supply = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("supply")
    ).withColumn(
        "total", F.sum("supply").over(Window.partitionBy())
    )
    weight = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
        )[F.col("source")],
        F.lit(MIX_DEFAULT_W),
    )
    rates = supply.select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("total").cast("double") * F.lit(MIX_BUDGET_FRAC) * weight
            / F.col("supply").cast("double"),
        ).alias("rate"),
    )
    thresh = F.floor(F.col("rate") * MIX_DRAW).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "source")
        .where(hash_bucket(F.col("doc_id"), MIX_DRAW) < thresh)
        .select("doc_id", "source", "n_tokens")
    )


def _mix_weight_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {w!r}" for s, w in MIX_WEIGHTS.items()
    )
    return f"(CASE {cases} ELSE {MIX_DEFAULT_W!r} END)"


_MIX_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, CAST(len({{tok}}) AS INTEGER) AS n_tokens
  FROM documents
),
supply AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS supply FROM toks
  GROUP BY source
),
rates AS (
  SELECT source,
         least(1.0,
               CAST(SUM(supply) OVER () AS DOUBLE) * {MIX_BUDGET_FRAC}
               * {_mix_weight_sql()} / CAST(supply AS DOUBLE)) AS rate
  FROM supply
)
SELECT t.doc_id, t.source, t.n_tokens
FROM toks t JOIN rates r ON t.source = r.source
WHERE (((t.doc_id % 2147483648) * {KNUTH}) % 2147483648) % {MIX_DRAW}
      < CAST(floor(r.rate * {MIX_DRAW}) AS BIGINT)
"""


def _mix_sql() -> str:
    from bigdata2016w_spark.functions.tokenizer import tokenize_sql

    return _MIX_SQL.format(tok=tokenize_sql("text"))


register(QuerySpec("documents_token_budget_mix", documents_token_budget_mix,
                   _mix_sql(), doc=documents_token_budget_mix.__doc__))
