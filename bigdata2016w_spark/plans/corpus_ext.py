"""Corpus/event extension queries (registry tail).

Operators extending the sampling / lm-quality / events / multimodal /
retrieval families mid-round.
They live in their own module ONLY because of the registry-order
contract: the round driver samples the first 50 registered queries, so
mid-round additions must register after that window (see
``registry._SPEC_MODULES``); appending to ``plans/sampling.py`` or
``plans/lm_quality.py`` would displace queries still awaiting their
first driver verdict.

Scale notes:
- ``documents_reservoir_by_source`` uses the two-stage bounded top-k
  (``operators/topk.py``) — k·P survivors per group, never a full
  per-group sort. Selection is a pure function of ``doc_id`` (Knuth
  multiplicative hash), so the sample is reproducible across engines,
  partitionings, and cluster sizes — the same determinism contract as
  ``plans/sampling.py``.
- ``events_user_value_anomalies`` is one shuffle on ``user_id`` plus a
  sequential ROWS-frame scan. The rolling z-score test is evaluated in
  EXACT int64 arithmetic (cents quantization, both sides of the
  inequality multiplied out, products widened to DECIMAL(38,0)/HUGEINT)
  — no float mean/stddev anywhere, so results are bit-identical across
  engines and partitionings even at z≈3 boundaries, with no overflow
  for any event value the schema can hold.
- ``doc_bigram_surprisal`` estimates an add-one bigram LM from the
  corpus itself (the KenLM/CCNet perplexity-filter recipe one order up
  from ``plans/lm_quality.unigram_lm_scores``). The model table is
  vocab²-bounded (≪ corpus), so the score join is broadcast-able; the
  per-token surprisal is quantized to integer micro-nats BEFORE the
  per-doc sum — order-independent, oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata2016w_spark.functions.tokenizer import (
    sql_escape,
    tokenize,
    tokenize_letters,
    tokenize_letters_sql,
    tokenize_sql,
)
from bigdata2016w_spark.operators._loop import iterate
from bigdata2016w_spark.operators.topk import topk_per_group
from bigdata2016w_spark.plans.sampling import KNUTH
from bigdata2016w_spark.registry import QuerySpec, register
from bigdata2016w_spark.sources.catalog import load_table

RESERVOIR_K = 10
ANOMALY_FRAME = 20  # preceding events in the rolling window
ANOMALY_MIN_N = 8   # require this much history before flagging
ANOMALY_Z = 3       # |value - mean| > Z * stddev_samp
LM_QUANT = 1_000_000


def documents_reservoir_by_source(spark: SparkSession, sf_dir: str,
                                  k: int = RESERVOIR_K) -> DataFrame:
    """Fixed-size uniform sample of ``k`` documents per source.

    Equivalent to a per-group reservoir sample with the random order
    replaced by a deterministic hash priority: rank docs inside each
    source by Knuth-hashed ``doc_id`` and keep the k smallest. Stable
    under any partitioning — rerunning on a repartitioned 100 TB corpus
    selects the same rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    pri = (((F.col("doc_id") % F.lit(2147483648)) * F.lit(KNUTH))
           % F.lit(2147483648)).alias("pri")
    return (
        topk_per_group(
            docs.select("source", "doc_id", pri),
            ["source"],
            [F.asc("pri"), F.asc("doc_id")],
            k,
        )
        .select("source", "doc_id")
    )


_RESERVOIR_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ((doc_id % 2147483648) * {KNUTH}) % 2147483648 ASC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT source, doc_id FROM ranked WHERE rn <= {RESERVOIR_K}
"""


def events_user_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score outliers over the event stream.

    For each event, compare ``value`` against the mean/stddev of the
    user's previous ``ANOMALY_FRAME`` events; flag |v − mean| >
    ``ANOMALY_Z``·stddev_samp once at least ``ANOMALY_MIN_N`` prior
    events exist. The test runs entirely in int64: with cents
    c = round(100·v), frame sum S, sum-of-squares Q and count n,

        (c·n − S)² · (n − 1)  >  Z² · n · (n·Q − S²)

    is the z-test with both sides multiplied by n²·(n−1) — exact, no
    division, no sqrt, no float accumulation. The squared-cents window
    sum and every inequality product run in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — raw int64 products would wrap silently on Spark
    (or raise under ANSI) and error on DuckDB from ~$1.1e5 event values.
    The widened math is exact to |value| ≈ 1e15 dollars (DECIMAL(38)
    headroom on the z²·n·(n·Q − S²) product), far past any value the
    cents quantization itself can represent faithfully.
    """
    # NULL ts would sort NULLS FIRST in Spark but NULLS LAST in DuckDB
    # (different window contents); NULL value has no cents. Exclude both
    # identically on every engine (and in the streaming twin).
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    c = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOMALY_FRAME, -1)
    )
    cd = c.cast("decimal(38,0)")
    ev = ev.select(
        "event_id", "user_id", "value", c.alias("c"),
        F.count("value").over(w).alias("n"),
        F.sum(c).over(w).alias("s"),
        # the squared-cents sum is the first quantity to leave int64
        # range, so it accumulates in DECIMAL(38,0) from the start
        F.sum(cd * cd).over(w).alias("q"),
    )

    def _d(col):
        return col.cast("decimal(38,0)")

    lhs = _d(F.col("c")) * _d(F.col("n")) - _d(F.col("s"))
    test = (
        lhs * lhs * (_d(F.col("n")) - 1)
        > F.lit(ANOMALY_Z * ANOMALY_Z)
        * _d(F.col("n"))
        * (_d(F.col("n")) * _d(F.col("q")) - _d(F.col("s")) * _d(F.col("s")))
    )
    return (
        ev.where((F.col("n") >= ANOMALY_MIN_N) & test)
        .select("event_id", "user_id", "value",
                F.col("n").alias("n_window"))
    )


_ANOMALY_SQL = f"""
WITH x AS (
  SELECT event_id, user_id, value,
         CAST(round(value * 100) AS BIGINT) AS c,
         COUNT(value) OVER w AS n,
         SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS s,
         SUM(CAST(round(value * 100) AS HUGEINT)
             * CAST(round(value * 100) AS HUGEINT)) OVER w AS q
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ANOMALY_FRAME} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value, n AS n_window
FROM x
WHERE n >= {ANOMALY_MIN_N}
  AND (CAST(c AS HUGEINT)*n - s) * (CAST(c AS HUGEINT)*n - s) * (n - 1)
      > {ANOMALY_Z * ANOMALY_Z} * CAST(n AS HUGEINT)
        * (CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s)
"""


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document average bigram surprisal (nats) under an add-one-
    smoothed bigram LM estimated from the corpus itself.

    prob(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V) with V = corpus unigram
    type count; score(d) = mean over the doc's bigrams of −ln prob,
    quantized to micro-nats before summing (order-independent).
    """
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    # r13 (guide §4.1): adjacent-pair generation via arrays_zip over two
    # shifted slices — the former transform(sequence(...), element_at)
    # HOF is interpreted per element (never enters codegen); the zip
    # form is a codegen'd expression, measured 2.3x faster on this pass
    # with a bit-identical row multiset.
    bigrams = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = Window.partitionBy("w1")
    vocab = (
        toks.select(F.explode("t").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    model = c12.withColumn("c1", F.sum("c12").over(c1)).crossJoin(vocab).select(
        "w1", "w2",
        F.round(
            -F.log(
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            )
            * LM_QUANT
        )
        .cast("bigint")
        .alias("su"),
    )
    return (
        bigrams.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("su").alias("s"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("s").cast("double") / F.col("n_bigrams") / LM_QUANT, 6
            ).alias("avg_bigram_nll"),
        )
    )


def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_scores(load_table(spark, sf_dir, "documents"))


_TOK = tokenize_sql("text")

_BIGRAM_LM_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest([{{'w1': t[i], 'w2': t[i+1]}} for i in range(1, len(t))]) AS b
  FROM toks WHERE len(t) >= 2
),
pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
c AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
v AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM toks)
),
model AS (
  SELECT w1, w2,
         CAST(round(-ln(CAST(c12 + 1 AS DOUBLE)
                        / CAST(SUM(c12) OVER (PARTITION BY w1) + v.v AS DOUBLE))
                    * {LM_QUANT}) AS BIGINT) AS su
  FROM c CROSS JOIN v
)
SELECT p.doc_id,
       count(*) AS n_bigrams,
       round(CAST(SUM(m.su) AS DOUBLE) / count(*) / {LM_QUANT}, 6)
         AS avg_bigram_nll
FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
GROUP BY p.doc_id
"""

register(QuerySpec("documents_reservoir_by_source",
                   documents_reservoir_by_source, _RESERVOIR_SQL,
                   doc=documents_reservoir_by_source.__doc__))
register(QuerySpec("events_user_value_anomalies",
                   events_user_value_anomalies, _ANOMALY_SQL,
                   doc=events_user_value_anomalies.__doc__))
register(QuerySpec("doc_bigram_surprisal", doc_bigram_surprisal,
                   _BIGRAM_LM_SQL, doc=doc_bigram_surprisal.__doc__))


PACK_BUDGET = 512   # tokens per packed training sequence
PACK_SHARDS = 16    # parallel packing lanes per source


def documents_pack_sequences(spark: SparkSession, sf_dir: str,
                             budget: int = PACK_BUDGET,
                             shards: int = PACK_SHARDS) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: concatenate documents
    in a deterministic order and cut the token stream into fixed
    ``budget``-token training sequences, reporting for each document
    which chunk range its tokens land in.

    Scale shape: a single global concatenation order would make the
    prefix sum one sequential window — so the stream is split into
    (source, shard) lanes, ``shard`` = Knuth-hashed ``doc_id``. Each
    lane is an independent window prefix-sum (shuffle keyed on the lane,
    bounded partition size, no global order), which is exactly how
    production packing runs per output shard. Chunk ids are
    lane-relative; (source, shard, chunk) is globally unique.

    Output per doc: its lane, token count, the first/last chunk indices
    covering its tokens, and its start offset inside the first chunk.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(KNUTH)
         % F.lit(2147483648) % shards)
        .alias("shard"),
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id", "source", "shard", "n_tokens",
        (prev % budget).alias("start_offset"),
        F.floor(prev / budget).cast("bigint").alias("chunk_first"),
        F.floor((prev + F.col("n_tokens") - 1) / budget).cast("bigint")
        .alias("chunk_last"),
    )


_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         ((doc_id % 2147483648) * {KNUTH}) % 2147483648 % {PACK_SHARDS} AS shard,
         len({_TOK}) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prev
  FROM toks WHERE n_tokens > 0
)
SELECT doc_id, source, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(prev % {PACK_BUDGET} AS BIGINT) AS start_offset,
       CAST(FLOOR(prev / {PACK_BUDGET}) AS BIGINT) AS chunk_first,
       CAST(FLOOR((prev + n_tokens - 1) / {PACK_BUDGET}) AS BIGINT)
         AS chunk_last
FROM c
"""

register(QuerySpec("documents_pack_sequences", documents_pack_sequences,
                   _PACK_SQL, doc=documents_pack_sequences.__doc__))


def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode REAL 8-bit PCM RIFF/WAVE payloads (rendered from the
    documents table by ``documents_as_wav``) through the Arrow-batched
    ``mapInPandas`` audio pipeline — actual chunk-walking header parse,
    exact-integer energy/peak/zero-crossing features. Registered here
    (not in plans/multimodal_plans) only for the registry-window reason
    in the module docstring. Map-only: no shuffle anywhere."""
    from bigdata2016w_spark.operators.multimodal import (
        audio_features, documents_as_wav)

    docs = load_table(spark, sf_dir, "documents")
    return audio_features(documents_as_wav(docs))


_AUDIO_SQL = """
WITH s AS (
  SELECT doc_id, length(text) AS n,
         list_transform(range(1, length(text) + 1),
                        i -> ((ascii(text[i]) + 64) % 256) - 128) AS c
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       n / 8000.0 AS duration_s,
       CAST(coalesce(list_aggregate(list_transform(c, x -> x * x), 'sum'), 0)
            AS BIGINT) AS energy,
       CAST(coalesce(list_aggregate(list_transform(c, x -> abs(x)), 'max'), 0)
            AS INTEGER) AS peak,
       CAST(coalesce(list_aggregate(
              list_transform(range(1, n),
                             i -> CASE WHEN c[i] * c[i+1] < 0
                                  THEN 1 ELSE 0 END), 'sum'), 0)
            AS BIGINT) AS zero_crossings
FROM s
"""

register(QuerySpec("media_audio_features", media_audio_features,
                   _AUDIO_SQL, doc=media_audio_features.__doc__))


BPE_MERGES = 10


def _merge_fold(left: str, right: str) -> str:
    """The BPE merge rewrite as ONE JVM-side left-to-right ``aggregate``
    fold over a symbol array (the standard greedy non-overlapping merge
    pass; no Python in the loop). Shared verbatim by the data-dependent
    learner (``bpe_learn``) and its oracle-proven closed-form twin
    (``bpe_apply_closed_form``). Total on empty arrays: guarded, because
    Spark's ``sequence(1, 0)`` runs DESCENDING and the fold would then
    ``element_at(sym, 0)`` — an ANSI error (caught by the hypothesis
    property test, not reachable from the tokenizer paths whose tokens
    are always non-empty)."""
    lq, rq = sql_escape(left), sql_escape(right)
    return (
        "if(size(sym) = 0, sym, "
        "aggregate(sequence(1, size(sym)),"
        " struct(cast(array() as array<string>) as out,"
        "        false as skip),"
        " (acc, i) -> if(acc.skip,"
        "   struct(acc.out as out, false as skip),"
        f"  if(i < size(sym) and element_at(sym, i) = '{lq}'"
        f"     and element_at(sym, i + 1) = '{rq}',"
        f"    struct(concat(acc.out, array('{lq}{rq}')) as out,"
        "            true as skip),"
        "     struct(concat(acc.out, array(element_at(sym, i))) as out,"
        "            false as skip))),"
        " acc -> acc.out))"
    )


def _bpe_vocab(docs: DataFrame, tokens: Column) -> DataFrame:
    """(freq, sym): each distinct word's count and its characters."""
    return (
        docs.select(F.explode(tokens).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("freq", F.expr("transform(sequence(1, length(word)),"
                               " i -> substring(word, i, 1))").alias("sym"))
    )


def bpe_learn(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Byte-pair-encoding vocabulary induction over the corpus — the
    tokenizer-training step of an LLM data pipeline (Sennrich et al.
    2016 recipe, word-level: merges never cross the whitespace
    pre-tokenization).

    Distributed shape: everything heavy stays on the (word, freq)
    VOCABULARY table — corpus-sized data is touched once for the word
    count. Each round
      1. explodes adjacent symbol pairs weighted by word freq (hash agg
         with map-side combine, shuffle is vocab-sized),
      2. takes the single most-frequent pair via TakeOrdered with a
         deterministic tiebreak (freq desc, then lexicographic),
      3. rewrites symbol arrays with one JVM-side left-to-right
         ``aggregate`` fold (the standard greedy merge pass; no Python
         in the loop).
    The per-round driver transfer is ONE row (the winning pair) — the
    same O(1)-rows-per-round class as PageRank's convergence probe.
    The rounds run on the shared driver loop (``operators/_loop.py``),
    checkpointed every 3 rounds.

    No SQL oracle (iterative, data-dependent driver decisions — same
    rows-only class as sequential SGD); pytest replays a pure-Python
    BPE fold and asserts the merge table matches bitwise.

    Returns (round, left, right, pair_freq) — the learned merge table.
    """
    # materialize the vocab ONCE — every round reads this table, and
    # without an eager cut each round's two actions would re-scan and
    # re-tokenize the whole corpus (measured 16 s/round → <1 s/round
    # on the 100k-doc scale smoke)
    words = _bpe_vocab(docs, tokenize("text")).localCheckpoint(eager=True)
    # size the iteration's partition count to the VOCAB, not the corpus:
    # a 10-round loop over a small vocabulary otherwise pays 32 tasks
    # per job purely in scheduling (measured 11 s → ~3 s at sf0.1)
    n_words = words.count()
    parts = max(1, min(32, n_words // 50_000 + 1))
    if parts != words.rdd.getNumPartitions():
        words = words.repartition(parts).localCheckpoint(eager=True)
    merges = []

    def merge_top_pair(words: DataFrame, r: int) -> DataFrame | None:
        pairs = words.where(F.size("sym") >= 2).select("freq", F.explode(
            F.expr("transform(sequence(1, size(sym) - 1),"
                   " i -> struct(element_at(sym, i) as l,"
                   "             element_at(sym, i + 1) as r))")
        ).alias("p")).groupBy("p.l", "p.r").agg(F.sum("freq").alias("pf"))
        top = pairs.orderBy(F.desc("pf"), F.asc("l"), F.asc("r")).limit(1)
        row = top.collect()
        if not row:
            return None
        left, right = row[0].l, row[0].r
        merges.append((r, left, right, int(row[0].pf)))
        return words.select("freq",
                            F.expr(_merge_fold(left, right)).alias("sym"))

    # the vocabulary after the last merge is never read: no final cut
    iterate(words, merge_top_pair, n_merges, every=3, final=False)
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "round int, left string, right string, pair_freq bigint"
    )


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_learn(load_table(spark, sf_dir, "documents"))


register(QuerySpec("bpe_merge_table", bpe_merge_table, None,
                   doc=bpe_learn.__doc__))


# Fixed literal merge table for the closed-form twin: common English
# digraphs, applied in order (later merges may consume earlier outputs,
# e.g. ('th','e') after ('t','h') — exercising the multi-char-symbol
# path of the fold).
BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"),
    ("a", "n"), ("o", "n"), ("r", "e"), ("a", "t"),
]


def bpe_apply_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-proven twin of ``bpe_learn``'s rewrite machinery: apply the
    FIXED literal merge table ``BPE_FIXED_MERGES`` to the corpus
    vocabulary with the exact same JVM-side ``_merge_fold`` expression
    the learner uses each round, then return the resulting token
    frequency table (top 100, total-ordered). ``bpe_learn`` itself is
    rows-only (data-dependent driver decisions pick each round's pair);
    this query removes the data dependence so DuckDB can replay the
    greedy non-overlapping merge pass and certify the fold.

    a5-letters tokenization keeps symbols in ``[a-z]+`` so the oracle's
    delimited-string ``replace`` encoding needs no escaping.
    Reference anchor: the merge pass is the BPE step of Sennrich et al.
    2016; the reference repo has no tokenizer training — this is part of
    the LLM-pipeline extension tier.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_vocab(docs, tokenize_letters("text"))
    for left, right in BPE_FIXED_MERGES:
        words = words.select(
            "freq", F.expr(_merge_fold(left, right)).alias("sym")
        )
    return (
        words.select("freq", F.explode("sym").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("token_freq"))
        .orderBy(F.desc("token_freq"), F.asc("token"))
        .limit(100)
    )


def _bpe_apply_sql() -> str:
    """DuckDB replay of the greedy non-overlapping merge pass.

    Encoding: each symbol individually wrapped in '|' ('|a||b||c|');
    one merge (l, r) is then ``replace(s, '|l||r|', '|lr|')`` — SQL
    ``replace`` scans left-to-right and never rescans its own output,
    which is exactly the fold's emit-then-skip semantics (each '||'
    boundary is consumed by at most one merge per pass). Symbols are
    [a-z]+ (a5 tokenizer), so '|' cannot collide.
    """
    s = ("'|' || array_to_string(list_transform("
         "range(1, length(word) + 1), i -> word[i]), '||') || '|'")
    for left, right in BPE_FIXED_MERGES:
        s = f"replace({s}, '|{left}||{right}|', '|{left}{right}|')"
    return f"""
WITH toks AS (
  SELECT unnest({tokenize_letters_sql('text')}) AS word FROM documents
), vocab AS (
  SELECT word, count(*) AS freq FROM toks GROUP BY word
), merged AS (
  SELECT freq, {s} AS s FROM vocab
)
SELECT token, CAST(sum(freq) AS BIGINT) AS token_freq
FROM (SELECT freq, unnest(string_split(trim(s, '|'), '||')) AS token
      FROM merged)
GROUP BY token
ORDER BY token_freq DESC, token ASC
LIMIT 100
"""


register(QuerySpec("bpe_apply_closed_form", bpe_apply_closed_form,
                   _bpe_apply_sql(), doc=bpe_apply_closed_form.__doc__))


EMB_QUANT = 1_000_000


def embedding_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sufficient statistics for the embedding covariance matrix —
    the distributed half of PCA. For every dimension pair i ≤ j, emit
    (n, Σxy, Σx, Σy) over micro-quantized components; the driver (or a
    pytest) assembles Cov = (Σxy − ΣxΣy/n)/(n−1) and runs the d×d
    eigendecomposition locally — d² values, never data-sized.
    Quantization uses floor (not round): floor has no ties, so Spark and
    DuckDB agree bit-for-bit even on dyadic float32 components that land
    exactly on .5 (where the engines' rounding modes differ).

    Scale shape: each Arrow batch computes its d×d partial Gram matrix
    with one int64 NumPy matmul (exact integer arithmetic — identical
    values to a per-pair product explode, which this replaces: exploding
    d(d+1)/2 structs per vector cost ~4M codegen rows at sf0.1 where the
    matmul is a single BLAS-class kernel per batch). Partials are
    d(d+1)/2 rows per batch; the final merge is one tiny hash aggregate.
    This is the documented exception to the stay-JVM rule: a genuinely
    vectorizable numeric kernel where Arrow+NumPy beats codegen.
    Overflow: |xy| ≤ ~1e12 and Arrow batches are ≤10k rows ⇒ batch
    partials ≤ ~1e16; the merged int64 sums are safe to n ≈ 9e6 vectors
    per aggregation — shard and combine the stats beyond that.
    """
    import pandas as pd
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & F.expr("NOT exists(embedding, x -> isnan(x))")
    )

    part_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("sum_xy", T.LongType()),
            T.StructField("sum_x", T.LongType()),
            T.StructField("sum_y", T.LongType()),
        ]
    )

    def partials(it):
        import numpy as np

        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xq = np.floor(x * EMB_QUANT).astype(np.int64)
            g = xq.T @ xq
            s = xq.sum(axis=0)
            iu, ju = np.triu_indices(xq.shape[1])
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "n": np.full(iu.size, len(xq), dtype="int64"),
                    "sum_xy": g[iu, ju],
                    "sum_x": s[iu],
                    "sum_y": s[ju],
                }
            )

    return (
        emb.select("embedding")
        .mapInPandas(partials, part_schema)
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_xy").alias("sum_xy"),
            F.sum("sum_x").alias("sum_x"),
            F.sum("sum_y").alias("sum_y"),
        )
        .orderBy("i", "j")
    )


_COV_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {EMB_QUANT})
                                  AS BIGINT)) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> isnan(x))) = 0
),
p AS (
  SELECT unnest(flatten(list_transform(range(1, len(v) + 1), i ->
           list_transform(range(i, len(v) + 1), j ->
             {{'i': i, 'j': j, 'xy': v[i] * v[j],
               'x': v[i], 'y': v[j]}})))) AS p
  FROM q
)
SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
       COUNT(*) AS n,
       CAST(SUM(p.xy) AS BIGINT) AS sum_xy,
       CAST(SUM(p.x) AS BIGINT) AS sum_x,
       CAST(SUM(p.y) AS BIGINT) AS sum_y
FROM p
GROUP BY 1, 2
ORDER BY i, j
"""

register(QuerySpec("embedding_covariance_stats", embedding_covariance_stats,
                   _COV_SQL, doc=embedding_covariance_stats.__doc__))


HYBRID_CAND_K = 50   # candidates taken from each retriever
HYBRID_TOP_K = 20    # fused results returned
RRF_K = 60           # the standard reciprocal-rank-fusion damping
HYBRID_QUERY_VEC = 0  # vec_id whose embedding is the dense query


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval with reciprocal-rank fusion — the
    modern search-stack shape (BM25 candidates ∪ vector-kNN candidates,
    fused by RRF: Σ 1/(60+rank)).

    Composes the engine's existing retrievers: ``bm25_rank`` (one
    tokenized per-doc pass for dl and the query terms' tf, its one-row
    corpus stats broadcast, TakeOrdered top-k) and exact ``knn``
    (broadcast query vector, corpus never shuffled, two-stage top-k).
    Each side returns ``HYBRID_CAND_K`` candidates; ranking windows run
    over those bounded candidate sets only (≤50 rows), never the corpus. ``doc_id == vec_id`` is the
    linking convention of the synthetic tables (TESTDATA.md). RRF scores
    are single IEEE expressions of exact integer ranks — bit-stable.
    """
    from bigdata2016w_spark.operators.retrieval import bm25_rank
    from bigdata2016w_spark.operators.similarity import knn
    from bigdata2016w_spark.plans.retrieval import BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_rank(docs, list(BM25_TERMS), k=HYBRID_CAND_K).select(
        "docid",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("docid")))
        .alias("r_lex"),
    )
    vec = knn(emb, [HYBRID_QUERY_VEC], HYBRID_CAND_K).select(
        F.col("vec_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("r_vec"),
    )
    fused = (
        lex.join(vec, lex.docid == vec.vec_id, "full_outer")
        .select(
            F.coalesce("docid", "vec_id").alias("doc_id"),
            "r_lex",
            "r_vec",
            (
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(
        HYBRID_TOP_K
    )


_HYBRID_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
flat AS (
  SELECT term, doc_id AS docid, count(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  GROUP BY term, doc_id
),
dl AS (SELECT docid, CAST(sum(tf) AS BIGINT) AS dl FROM flat GROUP BY docid),
avgdl AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
hits AS (SELECT * FROM flat WHERE term IN ('table', 'query', 'stream')),
df_t AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
scored AS (
  SELECT h.docid,
         round(sum(
           ln((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (h.tf * (1.0 + 1.2))
           / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / a.avgdl))
         ), 6) AS score
  FROM hits h
  JOIN df_t d USING (term)
  JOIN dl l USING (docid)
  CROSS JOIN avgdl a CROSS JOIN n
  GROUP BY h.docid
),
lex AS (
  SELECT docid, row_number() OVER (ORDER BY score DESC, docid ASC) AS r_lex
  FROM scored ORDER BY score DESC, docid ASC LIMIT {HYBRID_CAND_K}
),
q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC}
),
cos AS (
  SELECT e.vec_id,
         list_reduce([CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                      for i in range(1, len(q.qe) + 1)], (x, y) -> x + y)
         / (sqrt(list_reduce([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
                              for i in range(1, len(q.qe) + 1)],
                             (x, y) -> x + y))
            * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE)
                                * CAST(e.embedding[i] AS DOUBLE)
                                for i in range(1, len(e.embedding) + 1)],
                               (x, y) -> x + y))) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> {HYBRID_QUERY_VEC}
),
vec AS (
  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS r_vec
  FROM cos ORDER BY cosine DESC, vec_id ASC LIMIT {HYBRID_CAND_K}
)
SELECT COALESCE(l.docid, v.vec_id) AS doc_id,
       CAST(l.r_lex AS INTEGER) AS r_lex,
       CAST(v.r_vec AS INTEGER) AS r_vec,
       COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
       + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0) AS rrf_score
FROM lex l FULL OUTER JOIN vec v ON l.docid = v.vec_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {HYBRID_TOP_K}
"""

register(QuerySpec("hybrid_search_rrf", hybrid_search_rrf, _HYBRID_SQL,
                   doc=hybrid_search_rrf.__doc__))


SG_WINDOW = 2       # skip-gram context window (±W)
SG_NEGATIVES = 2    # deterministic negatives per center word
SG_BUCKETS = 64     # vocab buckets for negative selection


def skipgram_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style training table: positive (center, context) counts
    from a ±``SG_WINDOW`` token window, plus ``SG_NEGATIVES``
    deterministic negative examples per center (label 0) weighted by the
    center's positive mass.

    Negative sampling is a scale-safe hash scheme — NO global vocab sort
    or funnel window: the vocabulary hashes into ``SG_BUCKETS`` buckets
    (portable md5 family), each bucket elects its min-hash representative
    (one bounded aggregate), and center k's negative is the
    representative of bucket hash(center#k) — a broadcast join against a
    64-row table. Deterministic across engines/partitionings, and
    oracle-replayable because the hash family is bit-identical in DuckDB.
    Self-collisions (negative == center) are dropped, as in standard
    word2vec implementations.
    """
    from bigdata2016w_spark.operators.dedup import portable_hash60
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize("text").alias("t")).where(F.size("t") >= 2)
    # r12 (guide §4.2): the ±window pair generator runs in an
    # Arrow/NumPy kernel instead of the interpreted
    # sequence/transform/filter HOF chain (2·window element_at calls
    # per token); identical pair multiset, tokenization stays JVM-side
    from bigdata2016w_spark.operators.np_kernels import skipgram_pairs_fn

    pos = (
        toks.mapInPandas(
            skipgram_pairs_fn(SG_WINDOW),
            "center string, context string",
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("cnt"))
    )
    centers = pos.groupBy("center").agg(F.sum("cnt").alias("ct"))
    vocab = (
        toks.select(F.explode("t").alias("word")).distinct()
        .select("word", portable_hash60(F.col("word"), "sgv").alias("h"))
        .select("word", F.pmod(F.col("h"), F.lit(SG_BUCKETS)).alias("bucket"),
                "h")
    )
    reps = vocab.groupBy("bucket").agg(F.min_by("word", "h").alias("rep"))
    ks = spark.range(SG_NEGATIVES).select(F.col("id").alias("k"))
    negs = (
        centers.crossJoin(broadcast(ks))
        .select(
            "center", "ct",
            F.pmod(
                portable_hash60(
                    F.concat(F.col("center"), F.lit("#"), F.col("k")), "sgn"
                ),
                F.lit(SG_BUCKETS),
            ).alias("bucket"),
        )
        .join(broadcast(reps), "bucket")
        .where(F.col("rep") != F.col("center"))
        .select("center", F.col("rep").alias("context"),
                F.lit(0).alias("label"), F.col("ct").alias("cnt"))
    )
    return pos.select(
        "center", "context", F.lit(1).alias("label"), "cnt"
    ).unionByName(negs)


_SG_OFFSETS = ", ".join(
    str(d) for d in range(-SG_WINDOW, SG_WINDOW + 1) if d != 0
)


def _md5h(expr: str, seed: str) -> str:
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"


_SKIPGRAM_SQL = f"""
WITH toks AS (
  SELECT {_TOK} AS t FROM documents
), tt AS (
  SELECT t FROM toks WHERE len(t) >= 2
), pairs AS (
  SELECT unnest(flatten(list_transform(range(1, len(t) + 1), i ->
    list_transform(
      list_filter([{_SG_OFFSETS}],
                  d -> i + d >= 1 AND i + d <= len(t)),
      d -> {{'center': t[i], 'context': t[i + d]}})))) AS p
  FROM tt
), pos AS (
  SELECT p.center AS center, p.context AS context, count(*) AS cnt
  FROM pairs GROUP BY 1, 2
), centers AS (
  SELECT center, CAST(sum(cnt) AS BIGINT) AS ct FROM pos GROUP BY center
), vocab AS (
  SELECT word, {_md5h('word', 'sgv')} AS h,
         {_md5h('word', 'sgv')} % {SG_BUCKETS} AS bucket
  FROM (SELECT DISTINCT unnest(t) AS word FROM tt)
), reps AS (
  SELECT bucket, arg_min(word, h) AS rep FROM vocab GROUP BY bucket
), negs AS (
  SELECT c.center, r.rep AS context, 0 AS label, c.ct AS cnt
  FROM centers c
  CROSS JOIN (SELECT unnest(range({SG_NEGATIVES})) AS k) kk
  JOIN reps r
    ON r.bucket = {_md5h("c.center || '#' || kk.k", 'sgn')} % {SG_BUCKETS}
  WHERE r.rep <> c.center
)
SELECT center, context, 1 AS label, CAST(cnt AS BIGINT) AS cnt FROM pos
UNION ALL
SELECT center, context, label, cnt FROM negs
"""

register(QuerySpec("skipgram_training_pairs", skipgram_training_pairs,
                   _SKIPGRAM_SQL, doc=skipgram_training_pairs.__doc__))


INCR_CUTOVER = "1999-01-01"


def orders_incremental_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: a stored daily
    rollup (orders before ``INCR_CUTOVER``) is brought up to date by
    aggregating ONLY the late-arriving slice and merging partials —
    never re-scanning the historical fact.

    This works because the aggregate is algebraic: COUNT and DECIMAL SUM
    re-combine exactly (sum of partial counts/sums ≡ full recompute), so
    the registered oracle IS the full recompute — any divergence between
    the incremental plan and a from-scratch aggregation fails the gate.
    At 100 TB this is the difference between scanning one day and
    scanning the table; the merge shuffles only day-level partials.
    """
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit(INCR_CUTOVER).cast("timestamp_ntz")
    day = F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")

    def daily(df):
        return df.groupBy(day).agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tp_d"),
        )

    # null-safe split: NULL orderdates satisfy neither < nor >=, which
    # would silently drop those rows from the incremental plan while the
    # full-recompute oracle keeps them as a day=NULL group
    stored = daily(orders.where(
        (F.col("o_orderdate") < cut) | F.col("o_orderdate").isNull()
    ))
    delta = daily(orders.where(F.col("o_orderdate") >= cut))
    return (
        stored.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("tp_d").cast("double").alias("total_price"),
        )
        .orderBy("day")
    )


_INCR_SQL = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY day
ORDER BY day
"""

register(QuerySpec("orders_incremental_daily_agg",
                   orders_incremental_daily_agg, _INCR_SQL,
                   doc=orders_incremental_daily_agg.__doc__))


TREND_TOP_K = 3


def events_trending_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour trending JSON keys: the top-``TREND_TOP_K`` ``props.k``
    values by event count in each 1-hour tumbling window — the
    dashboard "what's hot right now" shape. One keyed aggregate, then
    the two-stage bounded top-k per window (``operators/topk.py``) so
    no window ever sorts more than k·P survivor rows. The streaming twin
    (``streaming/windows.trending_key_counts`` + the same rank) is
    parity-tested in tests/test_streaming.py.
    """
    ev = load_table(spark, sf_dir, "events")
    # try_cast + IS NOT NULL on BOTH engines: a missing or non-numeric
    # props.k must be skipped identically (plain CAST raises in DuckDB
    # and under ANSI Spark; NULL keys would also expose the engines'
    # opposite NULLS FIRST/LAST defaults at the top-k boundary).
    # ts IS NOT NULL likewise on BOTH: F.window silently drops NULL-ts
    # rows while DuckDB's date_trunc would keep a NULL window group.
    ev = ev.where(F.col("ts").isNotNull())
    counts = (
        ev.select(
            F.window("ts", "1 hour").alias("w"),
            F.expr("try_cast(get_json_object(props, '$.k') as int)")
            .alias("k"),
        )
        .where(F.col("k").isNotNull())
        .groupBy(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                 .alias("window_start"), "k")
        .agg(F.count("*").alias("cnt"))
    )
    return topk_per_group(
        counts, ["window_start"],
        [F.desc("cnt"), F.asc("k")], TREND_TOP_K,
    ).orderBy("window_start", F.desc("cnt"), F.asc("k"))


_TRENDING_SQL = f"""
WITH counts AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
         count(*) AS cnt
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
    AND ts IS NOT NULL
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY window_start ORDER BY cnt DESC, k ASC) AS rn
  FROM counts
)
SELECT window_start, k, cnt FROM ranked WHERE rn <= {TREND_TOP_K}
ORDER BY window_start, cnt DESC, k ASC
"""

register(QuerySpec("events_trending_keys", events_trending_keys,
                   _TRENDING_SQL, doc=events_trending_keys.__doc__))


CHUNK_TOKENS = 128   # tokens per retrieval chunk
CHUNK_STRIDE = 96    # stride => 32-token overlap between neighbors


def documents_chunk_for_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping chunker: split each document into
    ``CHUNK_TOKENS``-token windows every ``CHUNK_STRIDE`` tokens (32-token
    overlap) and materialize each chunk's text — the retrieval-corpus
    preparation step (distinct from ``documents_pack_sequences``, which
    tiles a training stream without overlap).

    Pure narrow plan: tokenize → per-row sequence explode → slice +
    array_join. No shuffle at all; chunk counts and offsets are exact
    integer arithmetic, so the whole op (including the reassembled chunk
    text) replays in SQL.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize("text").alias("t")
    ).where(F.size("t") > 0)
    n = F.size("t")
    n_chunks = (
        F.floor(
            (F.greatest(n - CHUNK_TOKENS, F.lit(0)) + CHUNK_STRIDE - 1)
            / CHUNK_STRIDE
        ).cast("int")
        + 1
    )
    chunks = toks.select(
        "doc_id", "t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_STRIDE
    length = F.least(F.lit(CHUNK_TOKENS), F.size("t") - start)
    return chunks.select(
        "doc_id",
        "chunk_id",
        start.cast("bigint").alias("start_tok"),
        length.cast("bigint").alias("n_tok"),
        F.array_join(F.slice("t", start + 1, length), " ").alias("chunk_text"),
    )


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK} AS t FROM documents
), tt AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), c AS (
  SELECT doc_id, t, n,
         unnest(range(0, CAST(FLOOR((GREATEST(n - {CHUNK_TOKENS}, 0)
                                     + {CHUNK_STRIDE} - 1)
                                    / {CHUNK_STRIDE}) AS INTEGER) + 1))
           AS chunk_id
  FROM tt
)
SELECT doc_id,
       CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(chunk_id * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(LEAST({CHUNK_TOKENS}, n - chunk_id * {CHUNK_STRIDE}) AS BIGINT)
         AS n_tok,
       array_to_string(
         t[chunk_id * {CHUNK_STRIDE} + 1 :
           chunk_id * {CHUNK_STRIDE}
           + LEAST({CHUNK_TOKENS}, n - chunk_id * {CHUNK_STRIDE})],
         ' ') AS chunk_text
FROM c
"""

register(QuerySpec("documents_chunk_for_rag", documents_chunk_for_rag,
                   _CHUNK_SQL, doc=documents_chunk_for_rag.__doc__))


def events_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour exact distinct users + event volume. COUNT(DISTINCT)
    plans as Spark's two-phase expand-then-aggregate — the partial
    aggregate dedups (window, user) pairs map-side, so the final shuffle
    carries distinct pairs, not raw events. At 100 TB the same query
    swaps to approx_count_distinct when a ±2% answer is acceptable; the
    exact form stays the oracle-checkable default."""
    # NULL-ts rows are excluded EXPLICITLY on both engines: F.window()
    # silently drops them (TimeWindow injects isnotnull) while a SQL
    # date_trunc would keep a NULL group — filter both sides identically
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(
            F.date_format(F.window("ts", "1 hour").getField("start"),
                          "yyyy-MM-dd HH:mm:ss").alias("window_start")
        )
        .agg(
            F.count_distinct("user_id").alias("unique_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("window_start")
    )


_HOURLY_USERS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users,
       COUNT(*) AS n_events
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
ORDER BY window_start
"""

register(QuerySpec("events_hourly_unique_users", events_hourly_unique_users,
                   _HOURLY_USERS_SQL, doc=events_hourly_unique_users.__doc__))
