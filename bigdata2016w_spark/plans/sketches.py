"""Registered sketch & fingerprint queries (operators/sketches.py) —
winnowing document fingerprints, KMV / HyperLogLog distinct sketches
over the corpus shingle set, and a Count-Min heavy-hitter report over
the events stream.

No reference counterpart (the reference counts distinct keys exactly,
e.g. ``SCALA/assignment5`` GROUP BYs); these are the approximate tier a
100-TB pipeline runs FIRST — sketches are one pass, mergeable across
partitions, and their state is O(k)/O(2^p)/O(d·w) bytes instead of
corpus bytes. Every query uses the portable md5 hash family, so the
full pipeline — hashing, register/bucket assignment, estimation
arithmetic — replays bit-for-bit in the DuckDB oracle (estimates are a
single double division of python-folded constants; the HLL harmonic sum
stays in exact int64; see operators/sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata2016w_spark.functions.tokenizer import tokenize_sql
from bigdata2016w_spark.operators.dedup import shingle_sets
from bigdata2016w_spark.operators.sketches import (
    CMS_D,
    CMS_W,
    HLL_EST_NUMERATOR,
    HLL_M,
    HLL_P,
    KMV_K,
    WINNOW_K,
    WINNOW_MAX_DF,
    WINNOW_MIN_SHARED,
    WINNOW_W,
    cms_heavy_keys,
    hll_distinct,
    hll_estimate_by,
    hll_registers_by,
    kmv_distinct,
    winnow_dup_candidates,
    winnow_fingerprints,
)
from bigdata2016w_spark.registry import QuerySpec, register
from bigdata2016w_spark.shared import scratch_dir, shared, stream_two_batches
from bigdata2016w_spark.sources.catalog import load_table

_TOK = tokenize_sql("text")


def _phash_sql(seed: str, expr: str) -> str:
    """DuckDB twin of operators.dedup.portable_hash60 (same convention
    as plans/pipeline.py — duplicated 3-liner to avoid importing a
    sibling plan module just for a string helper)."""
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"


# ------------------------------------------------------------- winnowing
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: (doc_id, fingerprint), the min
    hash of every window of w=4 consecutive token 5-gram hashes."""
    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def winnow_dup_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs sharing ≥2 rare winnow fingerprints — lossless
    candidates for any shared token span of ≥ k+w-1 = 8 tokens."""
    return winnow_dup_candidates(load_table(spark, sf_dir, "documents"))


# the complete-window filter is i <= ng - w on 0-based gram positions;
# docs shorter than k+w-1 tokens have no complete window in either engine
def _winnow_cte(prefix: str = "", where: str = "") -> str:
    """The winnow fingerprint CTE chain ending in ``{prefix}fps``,
    optionally slice-filtered — ONE generator for the whole-corpus, the
    pair, and the cross-corpus (index/probe) oracles, so the gram/window
    arithmetic cannot drift between them."""
    return f"""{prefix}toks AS (
  SELECT doc_id, {_TOK} AS t FROM documents{where}
),
{prefix}g AS (
  SELECT doc_id, t, unnest(range(len(t) - {WINNOW_K - 1})) AS i
  FROM {prefix}toks WHERE len(t) >= {WINNOW_K + WINNOW_W - 1}
),
{prefix}grams AS (
  SELECT doc_id, i,
         {_phash_sql('WN',
                     f"array_to_string(t[i+1:i+{WINNOW_K}], ' ')")} AS h
  FROM {prefix}g
),
{prefix}wins AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW
                      AND {WINNOW_W - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM {prefix}grams
),
{prefix}fps AS (
  SELECT DISTINCT doc_id, fp AS fingerprint
  FROM {prefix}wins WHERE i <= ng - {WINNOW_W}
)"""


_WINNOW_CTES = _winnow_cte()

_WINNOW_FPS_SQL = f"""
WITH {_WINNOW_CTES}
SELECT doc_id, fingerprint FROM fps
"""

_WINNOW_PAIRS_SQL = f"""
WITH {_WINNOW_CTES},
rare AS (
  SELECT fingerprint FROM fps
  GROUP BY fingerprint HAVING count(*) <= {WINNOW_MAX_DF}
),
fr AS (
  SELECT f.doc_id, f.fingerprint FROM fps f JOIN rare USING (fingerprint)
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fr x JOIN fr y
  ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""

register(QuerySpec("doc_winnow_fingerprints", doc_winnow_fingerprints,
                   _WINNOW_FPS_SQL, doc=winnow_fingerprints.__doc__))
register(QuerySpec("winnow_dup_candidates", winnow_dup_candidates_q,
                   _WINNOW_PAIRS_SQL, doc=winnow_dup_candidates.__doc__))


# ------------------------------------------------- distinct-count sketches
def _corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded 3-gram shingles of the corpus — the dedup tier's exact
    shingle convention (operators/dedup.shingle_sets), reused as the
    high-cardinality stream the distinct sketches estimate (~16k
    distinct at sf0.01; the 31-token synthetic vocabulary itself is
    degenerate for cardinality work)."""
    docs = load_table(spark, sf_dir, "documents")
    return shingle_sets(docs).select(F.explode("shingles").alias("s"))


def shingles_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch over corpus shingles:
    one row (k_used, kth_min, est_distinct, exact_distinct)."""
    return kmv_distinct(_corpus_shingles(spark, sf_dir), "s", KMV_K, "KMV")


def shingles_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (2^8 registers) distinct-count sketch over corpus
    shingles: one row (m_filled, isum, est_distinct, exact_distinct)."""
    return hll_distinct(_corpus_shingles(spark, sf_dir), "s", "HLL")


# shingle convention identical to plans/pipeline._SHINGLES, minus the
# per-doc distinct (the sketches hash-dedup globally anyway)
_SHINGLE_V = f"""sh AS (
  SELECT doc_id, [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                  for i in range(1, len(t) - 1)] AS sl
  FROM (SELECT doc_id, {_TOK} AS t FROM documents)
  WHERE len(t) >= 3
),
v AS (
  SELECT unnest(list_distinct(sl)) AS s FROM sh
)"""

_KMV_SQL = f"""
WITH {_SHINGLE_V},
h AS (SELECT DISTINCT {_phash_sql('KMV', 's')} AS h FROM v),
kmin AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
a AS (
  SELECT CAST(count(*) AS INTEGER) AS k_used, max(h) AS kth_min FROM kmin
),
e AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM h)
SELECT k_used, kth_min,
       -- under-filled sketch saw every distinct hash: exact k_used
       -- (also yields 0.0 on an empty stream); cap formula only when full
       CASE WHEN k_used < {KMV_K} THEN CAST(k_used AS DOUBLE)
            ELSE round(CAST(k_used - 1 AS DOUBLE) * {float(1 << 60)!r}
                       / CAST(kth_min AS DOUBLE), 4)
       END AS est_distinct,
       exact_distinct
FROM a CROSS JOIN e
"""

_HLL_RHO_MAX = 60 - HLL_P + 1  # 53: rho of an all-zero 52-bit rest field

_HLL_SQL = f"""
WITH {_SHINGLE_V},
h AS (SELECT {_phash_sql('HLL', 's')} AS h FROM v),
b AS (
  SELECT CAST(h & {HLL_M - 1} AS INTEGER) AS bucket,
         h >> {HLL_P} AS rest
  FROM h
),
r AS (
  SELECT bucket,
         CAST(CASE WHEN rest = 0 THEN {_HLL_RHO_MAX}
                   ELSE {_HLL_RHO_MAX} - length(printf('%b', rest)) END
              AS INTEGER) AS rho
  FROM b
),
regs AS (SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket),
a AS (
  SELECT CAST(count(*) AS INTEGER) AS m_filled,
         CAST(coalesce(sum(1::BIGINT << ({_HLL_RHO_MAX} - rho)), 0)
              + ({HLL_M} - count(*)) * (1::BIGINT << {_HLL_RHO_MAX})
              AS BIGINT) AS isum
  FROM regs
),
e AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_distinct
  FROM (SELECT DISTINCT s FROM v WHERE s IS NOT NULL)
)
SELECT m_filled, isum,
       round(CASE WHEN {HLL_EST_NUMERATOR!r} / CAST(isum AS DOUBLE)
                       <= {2.5 * HLL_M!r}
                   AND {HLL_M} - m_filled > 0
                  THEN {float(HLL_M)!r}
                       * ln({float(HLL_M)!r}
                            / CAST({HLL_M} - m_filled AS DOUBLE))
                  ELSE {HLL_EST_NUMERATOR!r} / CAST(isum AS DOUBLE)
             END, 4) AS est_distinct,
       exact_distinct
FROM a CROSS JOIN e
"""

register(QuerySpec("shingles_kmv_distinct", shingles_kmv_distinct, _KMV_SQL,
                   doc=kmv_distinct.__doc__))
register(QuerySpec("shingles_hll_distinct", shingles_hll_distinct, _HLL_SQL,
                   doc=hll_distinct.__doc__))


# ------------------------------------------------------------- count-min
CMS_ABOVE_MEAN = 1.15


def events_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the events stream: users whose CMS
    point estimate exceeds 1.15× the mean per-user event count, with
    the true count alongside (CMS can only over-report, never miss a
    heavy user)."""
    events = load_table(spark, sf_dir, "events")
    return cms_heavy_keys(events.select("user_id"), "user_id",
                          CMS_ABOVE_MEAN)


_CMS_JS = ", ".join(str(j) for j in range(CMS_D))

_CMS_SQL = f"""
WITH k AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events
  WHERE user_id IS NOT NULL
),
hs AS (
  SELECT k, j,
         CAST(('0x' || substr(md5('CMS' || j || ':' || k), 1, 15))::BIGINT
              % {CMS_W} AS INTEGER) AS slot
  FROM (SELECT k, unnest([{_CMS_JS}]) AS j FROM k)
),
counters AS (SELECT j, slot, count(*) AS cnt FROM hs GROUP BY j, slot),
truec AS (SELECT k, count(*) AS true_count FROM k GROUP BY k),
kh AS (
  SELECT k, j,
         CAST(('0x' || substr(md5('CMS' || j || ':' || k), 1, 15))::BIGINT
              % {CMS_W} AS INTEGER) AS slot
  FROM (SELECT k, unnest([{_CMS_JS}]) AS j FROM truec)
),
est AS (
  SELECT p.k, min(c.cnt) AS est_count
  FROM kh p JOIN counters c USING (j, slot)
  GROUP BY p.k
),
mn AS (
  SELECT CAST(sum(true_count) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM truec
)
SELECT e.k AS key, CAST(e.est_count AS BIGINT) AS est_count,
       CAST(t.true_count AS BIGINT) AS true_count
FROM est e JOIN truec t USING (k) CROSS JOIN mn
WHERE CAST(e.est_count AS DOUBLE)
      >= CAST(mn.total AS DOUBLE) / CAST(mn.n_keys AS DOUBLE)
         * {CMS_ABOVE_MEAN!r}
"""

register(QuerySpec("events_cms_heavy_users", events_cms_heavy_users,
                   _CMS_SQL, doc=cms_heavy_keys.__doc__))


# ----------------------------------------------------------- KMV algebra
def shingles_kmv_lang_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch algebra across two corpus slices (en vs non-en): union
    and intersection distinct-shingle estimates computed FROM THE TWO
    k-ROW SKETCHES ALONE, with the exact counts alongside as the error
    report — the sketch-combine a federated 100-TB corpus census runs
    instead of shipping shingle sets."""
    from bigdata2016w_spark.operators.sketches import kmv_set_ops

    docs = load_table(spark, sf_dir, "documents")
    a = shingle_sets(docs.where(F.col("lang") == "en")).select(
        F.explode("shingles").alias("s")
    )
    b = shingle_sets(docs.where(F.col("lang") != "en")).select(
        F.explode("shingles").alias("s")
    )
    return kmv_set_ops(a, b, "s", KMV_K, "KMV")


def _shingle_cte(name: str, where: str = "") -> str:
    """Per-doc-distinct 3-gram shingle stream CTE (same convention as
    plans/pipeline._SHINGLES), optionally slice-filtered."""
    return f"""{name}0 AS (
  SELECT doc_id, [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                  for i in range(1, len(t) - 1)] AS sl
  FROM (SELECT doc_id, {_TOK} AS t FROM documents{where})
  WHERE len(t) >= 3
),
{name} AS (
  SELECT unnest(list_distinct(sl)) AS s FROM {name}0
)"""


_KMV_EST_U = ("CAST(k_union - 1 AS DOUBLE) * "
              f"{float(1 << 60)!r} / CAST(kth_union AS DOUBLE)")

_KMV_SET_OPS_SQL = f"""
WITH {_shingle_cte("va", " WHERE lang = 'en'")},
{_shingle_cte("vb", " WHERE lang <> 'en'")},
ha AS (SELECT DISTINCT {_phash_sql('KMV', 's')} AS h FROM va),
hb AS (SELECT DISTINCT {_phash_sql('KMV', 's')} AS h FROM vb),
ka AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
kb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
lu AS (
  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
  ORDER BY h LIMIT {KMV_K}
),
ua AS (
  SELECT CAST(count(*) AS INTEGER) AS k_union, max(h) AS kth_union FROM lu
),
cm AS (
  SELECT CAST(count(*) AS INTEGER) AS n_common FROM lu
  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
),
eu AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union
  FROM (SELECT h FROM ha UNION SELECT h FROM hb)
),
ei AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_intersection
  FROM ha WHERE h IN (SELECT h FROM hb)
)
SELECT k_union, kth_union, n_common,
       -- under-filled union sketch = both inputs complete: exact values
       CASE WHEN k_union < {KMV_K} THEN CAST(k_union AS DOUBLE)
            ELSE round({_KMV_EST_U}, 4) END AS est_union,
       CASE WHEN k_union < {KMV_K} THEN CAST(n_common AS DOUBLE)
            ELSE round(CAST(n_common AS DOUBLE) / CAST(k_union AS DOUBLE)
                       * ({_KMV_EST_U}), 4) END AS est_intersection,
       exact_union, exact_intersection
FROM ua CROSS JOIN cm CROSS JOIN eu CROSS JOIN ei
"""

register(QuerySpec("shingles_kmv_lang_overlap", shingles_kmv_lang_overlap,
                   _KMV_SET_OPS_SQL,
                   doc=shingles_kmv_lang_overlap.__doc__))


# ------------------------------------------------------------------ bloom
def orders_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join pruning, made measurable: the filter is
    built from BUILDING-segment customers and probed by every ordering
    customer; the one-row confusion summary (passed / members / false
    positives / structurally-zero false negatives) is the artifact that
    decides whether the prune is worth shipping to the scan."""
    from bigdata2016w_spark.operators.sketches import bloom_probe_summary

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return bloom_probe_summary(
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey"),
        orders.select("o_custkey"),
        "c_custkey", "o_custkey",
    )


def _bloom_pos_sql(src: str) -> str:
    from bigdata2016w_spark.operators.sketches import BLOOM_BITS, BLOOM_D

    js = ", ".join(str(j) for j in range(BLOOM_D))
    return (f"SELECT k, ('0x' || substr(md5('BL' || j || ':' || k), 1, 15))"
            f"::BIGINT % {BLOOM_BITS} AS pos "
            f"FROM (SELECT k, unnest([{js}]) AS j FROM {src})")


def _bloom_sql() -> str:
    from bigdata2016w_spark.operators.sketches import BLOOM_WORD_BITS

    wb = BLOOM_WORD_BITS
    mask = f"(1::BIGINT << CAST(pos % {wb} AS INTEGER))"
    bmask = f"(1::BIGINT << CAST(b.pos % {wb} AS INTEGER))"
    return f"""
WITH bk AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_custkey IS NOT NULL
),
bpos AS ({_bloom_pos_sql('bk')}),
bitmap AS (
  SELECT CAST(pos // {wb} AS INTEGER) AS word, bit_or({mask}) AS w
  FROM bpos GROUP BY 1
),
pk AS (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
  WHERE o_custkey IS NOT NULL
),
ppos AS ({_bloom_pos_sql('pk')}),
ph AS (
  SELECT b.k,
         CASE WHEN (coalesce(m.w, 0) & (1::BIGINT
                    << CAST(b.pos % {wb} AS INTEGER)))
                   = {bmask}
              THEN 1 ELSE 0 END AS hit
  FROM ppos b LEFT JOIN bitmap m
    ON m.word = CAST(b.pos // {wb} AS INTEGER)
),
hits AS (SELECT k, min(hit) = 1 AS passed FROM ph GROUP BY k),
fl AS (
  SELECT h.passed, (h.k IN (SELECT k FROM bk)) AS member FROM hits h
)
SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
       CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN passed AND NOT member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives,
       CAST(sum(CASE WHEN member AND NOT passed THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negatives
FROM fl
"""


register(QuerySpec("orders_bloom_probe", orders_bloom_probe,
                   _bloom_sql(), doc=orders_bloom_probe.__doc__))


# ------------------------------------------------- cross-corpus winnowing
def winnow_cross_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnow candidates: the incoming shard (doc_id % 4 ==
    0, the documents_incremental_dedup split convention) probed against
    the accepted corpus — one shared rare fingerprint is already the
    lossless guarantee for any cross-boundary span of ≥ 8 tokens."""
    from bigdata2016w_spark.operators.sketches import (
        winnow_cross_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnow_cross_candidates(
        docs.where(F.col("doc_id") % 4 != 0),
        docs.where(F.col("doc_id") % 4 == 0),
    )


_WINNOW_CROSS_SQL = f"""
WITH {_winnow_cte("", " WHERE doc_id % 4 <> 0")},
{_winnow_cte("p", " WHERE doc_id % 4 = 0")},
rare AS (
  SELECT fingerprint FROM fps
  GROUP BY fingerprint HAVING count(*) <= {WINNOW_MAX_DF}
),
fi AS (
  SELECT f.doc_id AS index_id, f.fingerprint
  FROM fps f JOIN rare USING (fingerprint)
),
fp AS (
  SELECT f.doc_id AS probe_id, f.fingerprint
  FROM pfps f JOIN rare USING (fingerprint)
)
SELECT fp.probe_id, fi.index_id, CAST(count(*) AS BIGINT) AS n_shared
FROM fp JOIN fi USING (fingerprint)
GROUP BY fp.probe_id, fi.index_id
"""

register(QuerySpec("winnow_cross_candidates", winnow_cross_candidates_q,
                   _WINNOW_CROSS_SQL,
                   doc=winnow_cross_candidates_q.__doc__))


# ------------------------------------------------------- hash-sample
def orders_price_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles from a k=128 minimum-hash uniform row
    sample (q, est, k_used, n_rows) — the O(k)-state quantile tier next
    to the exact totalprice_percentiles query; estimates are actual
    sampled data values (⌈q·k_used⌉-th order statistic), so the oracle
    replays them bit-for-bit."""
    from bigdata2016w_spark.operators.sketches import (
        hash_sample_quantiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    return hash_sample_quantiles(orders, "o_orderkey", "o_totalprice")


from bigdata2016w_spark.operators.sketches import (  # noqa: E402
    QSK_K,
    QSK_QUANTILES,
)

# CAST each literal: a bare [0.25, ...] unnests as DECIMAL in DuckDB,
# while the Spark side emits DOUBLE q values
_QSK_QLIST = ", ".join(
    f"CAST({float(q)!r} AS DOUBLE)" for q in QSK_QUANTILES
)

_QSK_SQL = f"""
WITH s AS (
  SELECT {_phash_sql('QSK', 'o_orderkey')} AS h,
         CAST(o_totalprice AS DOUBLE) AS x
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
),
samp AS (SELECT x FROM s ORDER BY h, x LIMIT {QSK_K}),
a AS (
  SELECT list_sort(list(x)) AS xs, CAST(count(*) AS INTEGER) AS k_used
  FROM samp
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
qs AS (SELECT unnest([{_QSK_QLIST}]) AS q)
SELECT q, xs[CAST(ceil(q * k_used) AS INTEGER)] AS est, k_used, n_rows
FROM a CROSS JOIN n CROSS JOIN qs
"""

register(QuerySpec("orders_price_quantile_sketch",
                   orders_price_quantile_sketch, _QSK_SQL,
                   doc=orders_price_quantile_sketch.__doc__))


# ------------------------------------------------------------ HLL rollup

def events_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregable distinct-count cube: per-(event_type, day) unique
    users estimated by MERGING hourly HLL register partials — the plan
    never recomputes registers from raw events at the coarser grain.

    Stage 1 builds (event_type, day, hour) register partials (one hash
    partial-agg pass over the fact table — the only stage that touches
    raw data). Stage 2 folds hour→day with ``groupBy(..., bucket)
    .max(rho)`` over keys×256 metadata-sized rows, then estimates per
    group. Because max-merge is associative and lossless, the rolled-up
    registers are IDENTICAL to registers built directly at day grain —
    which is exactly what the oracle computes (single-level, from raw),
    so a MATCH certifies the re-aggregation property externally, not
    just in pytest. At 100 TB this is the distinct-count cube strategy:
    persist fine-grain partials once, answer every coarser grain from
    register tables thousands of times smaller than the data; the same
    max-merge serves streaming partials (streaming/sketch_sink.py).
    Exact per-group counts ride along for error visibility. Portable
    md5 hash family (operators/dedup.portable_hash60) so DuckDB replays
    bit-identically; xxhash64 stays the production default."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    keyed = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("day"),
        F.date_format(F.date_trunc("hour", F.col("ts")),
                      "yyyy-MM-dd HH:mm:ss").alias("hr"),
        F.col("user_id").cast("string").alias("u"),
    )
    hourly = hll_registers_by(
        keyed, ["event_type", "day", "hr"], col="u", seed="HLLU"
    )
    daily = hourly.groupBy("event_type", "day", "bucket").agg(
        F.max("rho").alias("rho")
    )
    est = hll_estimate_by(daily, ["event_type", "day"])
    exact = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("day"),
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    return (
        est.join(exact, ["event_type", "day"])
        .select("event_type", "day", "m_filled", "isum",
                "est_distinct", "exact_distinct")
        .orderBy("event_type", "day")
    )


# the oracle computes day-grain registers DIRECTLY from raw events (no
# hourly level): equality proves the hour->day max-merge is lossless
_HLL_ROLLUP_SQL = f"""
WITH h AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         {_phash_sql('HLLU', 'CAST(user_id AS VARCHAR)')} AS h
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), b AS (
  SELECT event_type, day,
         CAST(h & {HLL_M - 1} AS INTEGER) AS bucket,
         h >> {HLL_P} AS rest
  FROM h
), r AS (
  SELECT event_type, day, bucket,
         CAST(CASE WHEN rest = 0 THEN {_HLL_RHO_MAX}
                   ELSE {_HLL_RHO_MAX} - length(printf('%b', rest)) END
              AS INTEGER) AS rho
  FROM b
), regs AS (
  SELECT event_type, day, bucket, max(rho) AS rho
  FROM r GROUP BY 1, 2, 3
), a AS (
  SELECT event_type, day,
         CAST(count(*) AS INTEGER) AS m_filled,
         CAST(coalesce(sum(1::BIGINT << ({_HLL_RHO_MAX} - rho)), 0)
              + ({HLL_M} - count(*)) * (1::BIGINT << {_HLL_RHO_MAX})
              AS BIGINT) AS isum
  FROM regs GROUP BY 1, 2
), e AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
)
SELECT a.event_type, a.day, m_filled, isum,
       round(CASE WHEN {HLL_EST_NUMERATOR!r} / CAST(isum AS DOUBLE)
                       <= {2.5 * HLL_M!r}
                   AND {HLL_M} - m_filled > 0
                  THEN {float(HLL_M)!r}
                       * ln({float(HLL_M)!r}
                            / CAST({HLL_M} - m_filled AS DOUBLE))
                  ELSE {HLL_EST_NUMERATOR!r} / CAST(isum AS DOUBLE)
             END, 4) AS est_distinct,
       exact_distinct
FROM a JOIN e ON a.event_type = e.event_type AND a.day = e.day
ORDER BY a.event_type, a.day
"""

register(QuerySpec("events_hll_daily_rollup", events_hll_daily_rollup,
                   _HLL_ROLLUP_SQL,
                   doc=events_hll_daily_rollup.__doc__))


# ----------------------------------------------------- winsorized mean

_WINS_LO, _WINS_HI = 0.05, 0.95


def orders_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust mean of o_totalprice: winsorize at sketch-estimated
    p05/p95 and average the clipped values — the outlier-resistant
    metric a monitoring pipeline prefers over the raw mean, computed
    WITHOUT a global sort.

    The clip bounds come from the k-minimum-hash uniform sample
    (hash_sample_rows — O(k) state, TakeOrderedAndProject plan), so
    they are actual data values both engines cut identically; the
    winsorized pass is then one scan with the 1-row bounds frame
    broadcast into a clamp expression, all sums in exact integer
    cents, means as single IEEE divisions. Two scans total at any
    scale: the sample and the clipped aggregate."""
    from bigdata2016w_spark.operators.sketches import (
        hash_sample_rows,
        quantile_rows_from_sample,
    )

    # NULL prices are excluded from BOTH passes: the sample drops them
    # internally, and a NULL surviving into the clamp would silently
    # coerce to the upper bound (least/greatest skip NULLs) — inflating
    # the winsorized mean while the raw mean loses the row
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    samp = hash_sample_rows(orders, "o_orderkey", "o_totalprice")
    bounds = (
        quantile_rows_from_sample(samp, (_WINS_LO, _WINS_HI))
        .agg(
            F.round(F.max(F.when(F.col("q") == _WINS_LO, F.col("est")))
                    * 100).cast("long").alias("lo_c"),
            F.round(F.max(F.when(F.col("q") == _WINS_HI, F.col("est")))
                    * 100).cast("long").alias("hi_c"),
        )
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    clipped = F.greatest(F.least(cents, F.col("hi_c")), F.col("lo_c"))
    return (
        orders.crossJoin(F.broadcast(bounds))
        .agg(
            F.count("*").alias("n_rows"),
            (F.first("lo_c").cast("double") / 100).alias("lo_bound"),
            (F.first("hi_c").cast("double") / 100).alias("hi_bound"),
            F.sum(F.when(cents < F.col("lo_c"), 1).otherwise(0))
            .alias("n_clipped_lo"),
            F.sum(F.when(cents > F.col("hi_c"), 1).otherwise(0))
            .alias("n_clipped_hi"),
            F.sum(cents).alias("_sc"),
            F.sum(clipped).alias("_scw"),
        )
        .select(
            "n_rows", "lo_bound", "hi_bound",
            "n_clipped_lo", "n_clipped_hi",
            F.round(F.col("_sc").cast("double")
                    / (F.col("n_rows") * 100).cast("double"), 6)
            .alias("raw_mean"),
            F.round(F.col("_scw").cast("double")
                    / (F.col("n_rows") * 100).cast("double"), 6)
            .alias("winsorized_mean"),
        )
    )


_WINS_SQL = f"""
WITH s AS (
  SELECT {_phash_sql('QSK', 'o_orderkey')} AS h,
         CAST(o_totalprice AS DOUBLE) AS x
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
),
samp AS (SELECT x FROM s ORDER BY h, x LIMIT {QSK_K}),
a AS (
  SELECT list_sort(list(x)) AS xs, CAST(count(*) AS INTEGER) AS k_used
  FROM samp
),
b AS (
  SELECT CAST(round(xs[CAST(ceil({_WINS_LO} * k_used) AS INTEGER)] * 100)
              AS BIGINT) AS lo_c,
         CAST(round(xs[CAST(ceil({_WINS_HI} * k_used) AS INTEGER)] * 100)
              AS BIGINT) AS hi_c
  FROM a
),
m AS (
  SELECT count(*) AS n_rows,
         CAST(sum(CASE WHEN c < lo_c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_lo,
         CAST(sum(CASE WHEN c > hi_c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_hi,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(greatest(least(c, hi_c), lo_c)) AS BIGINT) AS scw,
         any_value(lo_c) AS lo_c, any_value(hi_c) AS hi_c
  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
        WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL)
       CROSS JOIN b
)
SELECT n_rows,
       CAST(lo_c AS DOUBLE) / 100 AS lo_bound,
       CAST(hi_c AS DOUBLE) / 100 AS hi_bound,
       n_clipped_lo, n_clipped_hi,
       round(CAST(sc AS DOUBLE) / CAST(n_rows * 100 AS DOUBLE), 6)
         AS raw_mean,
       round(CAST(scw AS DOUBLE) / CAST(n_rows * 100 AS DOUBLE), 6)
         AS winsorized_mean
FROM m
"""

register(QuerySpec("orders_winsorized_mean", orders_winsorized_mean,
                   _WINS_SQL, doc=orders_winsorized_mean.__doc__))


# --------------------------------------------- streamed winnow admission
#
# The winnow ADMISSION GATE end to end: streaming/ingest.winnow_admission
# _sink run over a real two-micro-batch documents stream, returning the
# per-batch admission ledger. The in-batch tier (winnow_dup_candidates)
# and the cross tier (winnow_cross_candidates) each already have a
# registered oracle; this query certifies their COMPOSITION under the
# streaming machinery — exact-text dedup → in-batch long-span dedup →
# accepted-text drop → cross-corpus fingerprint gate, batch-stamped
# replay-safe subdirs — by replaying both batches statically in SQL.
def _streamed_winnow_corpus(spark: SparkSession, sf_dir: str) -> str:
    from bigdata2016w_spark.streaming.ingest import winnow_admission_sink

    def build() -> str:
        root = scratch_dir("bigdata2016w_winnow_admit_")
        acc = f"{root}/accepted"
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        # unlike the IVM view (commutative merge), admission is
        # ORDER-DEPENDENT — batch 0's survivors gate batch 1 — so the
        # even half must be batch 0, which stream_two_batches pins
        stream_two_batches(
            spark, root,
            [docs.where(F.col("doc_id") % 2 == m) for m in (0, 1)],
            lambda stream, ckpt: winnow_admission_sink(stream, acc, ckpt),
            acc,
        )
        return acc

    return shared(spark, ("streamed_winnow_corpus", sf_dir), build)


def documents_winnow_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission ledger (batch, doc_id) of the streamed winnow gate:
    documents arrive as two micro-batches (even doc_ids then odd), each
    batch is exact-deduped, long-span-deduped in-batch (≥1 shared rare
    winnow fingerprint), then gated against everything already accepted
    (exact text + cross-corpus fingerprint probe). The oracle replays
    both batches statically from the documents table, so a MATCH
    certifies the streamed admission chain — including the batch-stamped
    replay-safe layout — not just its two candidate generators. At
    100 TB the accepted corpus is bucketed by fingerprint and each
    micro-batch probes only the buckets it hashes to; see
    streaming/ingest.admit_winnow_batch."""
    from bigdata2016w_spark.streaming.ingest import read_admission_ledger

    return read_admission_ledger(
        spark, _streamed_winnow_corpus(spark, sf_dir),
        "doc_id bigint, text string", "doc_id",
    )


def _winnow_admit_sql() -> str:
    """Static replay of the two admission batches. Exact-dedup survivors
    are expressed as WHERE predicates on the documents scan so the ONE
    winnow CTE generator (`_winnow_cte`) serves both batches — the
    fingerprint arithmetic cannot drift from the other winnow oracles.
    NOT EXISTS (never NOT IN) everywhere a NULL could poison the
    three-valued logic, matching Spark's anti-join semantics."""
    b0a = ("doc_id % 2 = 0 AND doc_id IN (SELECT min(doc_id) "
           "FROM documents WHERE doc_id % 2 = 0 GROUP BY text)")
    b1a = ("doc_id % 2 = 1 AND doc_id IN (SELECT min(doc_id) "
           "FROM documents WHERE doc_id % 2 = 1 GROUP BY text)")
    return f"""
WITH {_winnow_cte('a', ' WHERE ' + b0a)},
{_winnow_cte('p', ' WHERE ' + b1a)},
rare0 AS (
  SELECT fingerprint FROM afps
  GROUP BY fingerprint HAVING count(*) <= {WINNOW_MAX_DF}
),
fr0 AS (SELECT doc_id, fingerprint FROM afps JOIN rare0 USING (fingerprint)),
drop0 AS (
  SELECT DISTINCT y.doc_id FROM fr0 x
  JOIN fr0 y ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
),
s0 AS (
  SELECT d.doc_id, d.text FROM documents d
  WHERE {b0a.replace('doc_id', 'd.doc_id', 1)}
    AND NOT EXISTS (SELECT 1 FROM drop0 x WHERE x.doc_id = d.doc_id)
),
rare1 AS (
  SELECT fingerprint FROM pfps
  GROUP BY fingerprint HAVING count(*) <= {WINNOW_MAX_DF}
),
fr1 AS (SELECT doc_id, fingerprint FROM pfps JOIN rare1 USING (fingerprint)),
drop1 AS (
  SELECT DISTINCT y.doc_id FROM fr1 x
  JOIN fr1 y ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
),
b1c AS (
  SELECT d.doc_id, d.text FROM documents d
  WHERE {b1a.replace('doc_id', 'd.doc_id', 1)}
    AND NOT EXISTS (SELECT 1 FROM drop1 x WHERE x.doc_id = d.doc_id)
    AND NOT EXISTS (SELECT 1 FROM s0 WHERE s0.text = d.text)
),
s0fps AS (
  SELECT f.doc_id, f.fingerprint FROM afps f
  WHERE EXISTS (SELECT 1 FROM s0 WHERE s0.doc_id = f.doc_id)
),
rarex AS (
  SELECT fingerprint FROM s0fps
  GROUP BY fingerprint HAVING count(*) <= {WINNOW_MAX_DF}
),
crossdrop AS (
  SELECT DISTINCT pp.doc_id
  FROM pfps pp
  JOIN rarex USING (fingerprint)
  JOIN s0fps ii USING (fingerprint)
  WHERE EXISTS (SELECT 1 FROM b1c WHERE b1c.doc_id = pp.doc_id)
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


register(QuerySpec("documents_winnow_admission", documents_winnow_admission,
                   _winnow_admit_sql(),
                   doc=documents_winnow_admission.__doc__))


# ---------------------------------------------- streamed sketch partials
#
# The THIRD pytest-only streaming surface certified end-to-end (after the
# r11 IVM and winnow-admission queries): streaming/sketch_sink writes
# per-micro-batch CMS counter and HLL register PARTIALS to batch-stamped
# dirs; this query runs the real sink over a two-micro-batch user_id
# stream, merges on read (counters add, registers max), and returns the
# combined sketch state. The oracle recomputes both sketches from the
# events table directly — a MATCH certifies that the streamed partial
# layout + algebraic merge equals the one-shot sketch, externally.
def _streamed_sketch_dir(spark: SparkSession, sf_dir: str) -> str:
    from bigdata2016w_spark.streaming.sketch_sink import (
        sketch_maintenance_sink,
    )

    def build() -> str:
        root = scratch_dir("bigdata2016w_sketch_stream_")
        tgt = f"{root}/sketches"
        ev = load_table(spark, sf_dir, "events").select("user_id")
        # the merge is commutative (add/max), so batch order is
        # immaterial
        stream_two_batches(
            spark, root,
            [ev.where(F.pmod(F.col("user_id"), F.lit(2)) == m)
             for m in (0, 1)],
            lambda stream, ckpt: sketch_maintenance_sink(
                stream, tgt, ckpt, col="user_id"),
            tgt,
        )
        return tgt

    return shared(spark, ("streamed_sketch_dir", sf_dir), build)


def events_streamed_sketch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (m_filled, isum, est_distinct, exact_distinct, cms_nnz,
    cms_total, cms_max): the STREAM-maintained distinct-user HLL and
    event-count CMS over events.user_id — two micro-batches through
    streaming/sketch_sink.sketch_maintenance_sink, partials merged on
    read, estimated with the exact-int64 harmonic sum. The oracle
    builds both sketches from the raw table in one shot; equality
    certifies the batch-stamped partial layout and the add/max merges.
    exact_distinct rides along as the error report. At 100 TB each
    batch's partial is STILL 256 + d·w rows — the point of sketch
    maintenance on a stream; see streaming/sketch_sink.py."""
    from bigdata2016w_spark.streaming.sketch_sink import (
        read_merged_cms,
        read_merged_hll,
    )
    from pyspark.sql.functions import broadcast

    tgt = _streamed_sketch_dir(spark, sf_dir)
    hll = hll_estimate_by(read_merged_hll(spark, tgt), [])
    cms = read_merged_cms(spark, tgt).agg(
        F.count("*").alias("cms_nnz"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("cms_total"),
        F.max("cnt").alias("cms_max"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        hll.crossJoin(broadcast(cms))   # three 1-row frames
        .crossJoin(broadcast(exact))
        .select("m_filled", "isum", "est_distinct", "exact_distinct",
                "cms_nnz", "cms_total", "cms_max")
    )


_SKETCH_STREAM_SQL = f"""
WITH k AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events
  WHERE user_id IS NOT NULL
),
h AS (SELECT {_phash_sql('HLL', 'k')} AS h FROM k),
b AS (
  SELECT CAST(h & {HLL_M - 1} AS INTEGER) AS bucket,
         h >> {HLL_P} AS rest
  FROM h
),
r AS (
  SELECT bucket,
         CAST(CASE WHEN rest = 0 THEN {_HLL_RHO_MAX}
                   ELSE {_HLL_RHO_MAX} - length(printf('%b', rest)) END
              AS INTEGER) AS rho
  FROM b
),
regs AS (SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket),
a AS (
  SELECT CAST(count(*) AS INTEGER) AS m_filled,
         CAST(coalesce(sum(1::BIGINT << ({_HLL_RHO_MAX} - rho)), 0)
              + ({HLL_M} - count(*)) * (1::BIGINT << {_HLL_RHO_MAX})
              AS BIGINT) AS isum
  FROM regs
),
e AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct FROM k),
hs AS (
  SELECT k, j,
         CAST(('0x' || substr(md5('CMS' || j || ':' || k), 1, 15))::BIGINT
              % {CMS_W} AS INTEGER) AS slot
  FROM (SELECT k, unnest([{_CMS_JS}]) AS j FROM k)
),
counters AS (SELECT j, slot, count(*) AS cnt FROM hs GROUP BY j, slot),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS cms_nnz,
         CAST(coalesce(sum(cnt), 0) AS BIGINT) AS cms_total,
         CAST(max(cnt) AS BIGINT) AS cms_max
  FROM counters
)
SELECT m_filled, isum,
       round(CASE WHEN {HLL_EST_NUMERATOR!r} / CAST(isum AS DOUBLE)
                       <= {2.5 * HLL_M!r}
                   AND {HLL_M} - m_filled > 0
                  THEN {float(HLL_M)!r}
                       * ln({float(HLL_M)!r}
                            / CAST({HLL_M} - m_filled AS DOUBLE))
                  ELSE {HLL_EST_NUMERATOR!r} / CAST(isum AS DOUBLE)
             END, 4) AS est_distinct,
       exact_distinct, cms_nnz, cms_total, cms_max
FROM a CROSS JOIN e CROSS JOIN c
"""

register(QuerySpec("events_streamed_sketch_state",
                   events_streamed_sketch_state, _SKETCH_STREAM_SQL,
                   doc=events_streamed_sketch_state.__doc__))
