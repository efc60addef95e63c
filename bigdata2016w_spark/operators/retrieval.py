"""Inverted index + boolean retrieval — the reference's a3/a7 surface.

Reference shape: MR job builds ``term → VInt gap-encoded (docid, tf) list``
into MapFile/HBase (``JAVA/assignment3/BuildInvertedIndexCompressed.java:61-175``,
``JAVA/assignment7/BuildInvertedIndexHBase.java:87-109``), then an
interactive CLI evaluates postfix (RPN) boolean queries with a TreeSet
stack machine (``BooleanRetrievalCompressed.java:58-133``) and fetches
matching lines by byte-offset seek (``:147-152``).

Spark-first design: the postings live in a DataFrame — flat
``(term, docid, tf)`` for query-time filtering (Parquet min/max + optional
bloom filter on ``term`` replace the MapFile index) and a grouped
``(term, df, postings array<struct>)`` form (Parquet dictionary/delta
encoding subsumes the hand-rolled VInt gap compression,
``BuildInvertedIndexCompressed.java:151-161``). The RPN evaluator compiles
the query to set ops on docid DataFrames (``intersect``/``union`` — the
TreeSet AND/OR at ``:83-113``), and document display is a join against
``documents`` instead of a raw seek. The a7 HBase variant collapses into
the same table — the capability is a keyed postings store, not HBase.

docids are the ``doc_id`` column (the reference used the line's byte
offset as docid, ``BuildInvertedIndexCompressed.java:67,89``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata2016w_spark.functions.tokenizer import tokenize

RPN_OPS = ("AND", "OR")


def postings_flat(docs: DataFrame) -> DataFrame:
    """(term, docid, tf): per-document term frequencies.

    The per-doc TF histogram of BuildInvertedIndexCompressed.java:80-85 as
    one explode + hash aggregate.
    """
    return (
        docs.select(F.col("doc_id").alias("docid"),
                    F.explode(tokenize("text")).alias("term"))
        .groupBy("term", "docid")
        .agg(F.count("*").alias("tf"))
    )


def postings_grouped(docs: DataFrame) -> DataFrame:
    """(term, df, postings sorted array<struct<docid,tf>>).

    The reducer-side posting accumulation of
    BuildInvertedIndexCompressed.java:107-175; the secondary sort on
    (term, docid) (:89-91) becomes sort_array on the collected structs.
    """
    return (
        postings_flat(docs)
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sort_array(F.collect_list(F.struct("docid", "tf"))).alias("postings"),
        )
    )


def eval_rpn(postings: DataFrame, query: str) -> DataFrame:
    """Evaluate a postfix boolean query → DataFrame[docid].

    Stack machine of BooleanRetrievalCompressed.java:58-77: operands push
    the term's docid set; AND = set intersection (:83-96), OR = set union
    (:98-113). Here the stack holds DataFrames and the set ops are
    relational ``intersect``/``union.distinct`` — distributed, no driver
    materialization.
    """
    stack: list[DataFrame] = []
    for tok in query.split():
        if tok == "AND":
            b, a = stack.pop(), stack.pop()
            stack.append(a.intersect(b))
        elif tok == "OR":
            b, a = stack.pop(), stack.pop()
            stack.append(a.union(b).distinct())
        else:
            stack.append(
                postings.where(F.col("term") == tok).select("docid").distinct()
            )
    if len(stack) != 1:
        raise ValueError(f"malformed RPN query {query!r}")
    return stack[0]


def bm25_rank(docs: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Ranked retrieval: top-k docs by BM25 over the postings table — the
    engine's extension past the reference's boolean-only retrieval
    (BooleanRetrievalCompressed.java evaluates membership, never rank).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf = ln((N − df + 0.5)/(df + 0.5) + 1).

    Only tokens matching a query term are exploded and grouped into
    (term, docid, tf); document lengths dl come from per-document token
    counts (``size`` of the token array, docs with no tokens dropped), so
    no (term, docid) aggregate of the whole corpus is built. Broadcast of
    the tiny per-term df/idf table, one scoring aggregation. All counts
    stay int64; ln is rounded at the edge (libm last-ulp).

    Scale shape: N (corpus size) and avgdl are 1-row aggregates folded
    into the plan as broadcast cross-joins — no separate driver-side
    count job — and the final top-k is ``orderBy().limit(k)``, which
    Catalyst plans as TakeOrderedAndProject (per-partition bounded heaps
    + driver merge of k×partitions rows), never a single-partition
    global window.
    """
    from pyspark.sql.functions import broadcast

    toks = docs.select(F.col("doc_id").alias("docid"),
                       tokenize("text").alias("t"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    # filter the aggregate, not the rows: a row filter on size(t) would
    # be pushed below the projection and run the tokenizer twice
    dl = (toks.groupBy("docid").agg(F.sum(F.size("t")).alias("dl"))
          .where(F.col("dl") > 0))
    avgdl = dl.agg(F.sum("dl").alias("s"), F.count("*").alias("c"))
    hits = (
        toks.select("docid", F.explode("t").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("term", "docid")
        .agg(F.count("*").alias("tf"))
    )
    df_t = hits.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        hits.join(broadcast(df_t), "term")
        .join(dl, "docid")
        .crossJoin(broadcast(avgdl))
        .crossJoin(broadcast(nd))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (1.0 + k1))
            / (
                F.col("tf")
                + k1
                * (1.0 - b + b * F.col("dl")
                   / (F.col("s").cast("double") / F.col("c")))
            ),
        )
        .groupBy("docid")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
        .select("docid", "score")
    )


def retrieve(docs: DataFrame, query: str) -> DataFrame:
    """RPN boolean retrieval returning (doc_id, text).

    Replaces the reference's fetchLine byte-seek
    (BooleanRetrievalCompressed.java:147-152) with a join back to the
    documents table.
    """
    hits = eval_rpn(postings_flat(docs), query)
    return (
        hits.join(docs, hits.docid == docs.doc_id)
        .select("doc_id", "text")
    )


def postings_positional(docs: DataFrame) -> DataFrame:
    """(term, docid, positions sorted array<int>): positional postings —
    the index extension phrase queries need (the reference's index is
    positionless, BuildInvertedIndexCompressed.java:80-85, so its
    retrieval stops at boolean AND/OR). One posexplode + collect_list per
    (term, doc); at scale this is the same one-shuffle build as the tf
    postings, with positions delta-friendly for parquet encoding."""
    return (
        docs.select(
            F.col("doc_id").alias("docid"),
            F.posexplode(tokenize("text")).alias("pos", "term"),
        )
        .groupBy("term", "docid")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def phrase_query(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase retrieval: documents where ``phrase`` tokens occur at
    consecutive positions, with the match count per document.

    Plan: per-term positional postings equi-join on docid, consecutive-
    position check via ``arrays_overlap``-style intersection of shifted
    position arrays (JVM-side array ops, no explode of positions). The
    join chain touches only the phrase terms' postings — query cost is
    proportional to the rarest term's posting list, as in any inverted
    index."""
    if len(phrase) < 2:
        raise ValueError("phrase needs >= 2 terms")
    pos = postings_positional(docs)
    # start positions of term 0, then repeatedly intersect with the
    # (shifted) positions of each next term
    cur = pos.where(F.col("term") == phrase[0]).select(
        "docid", F.col("positions").alias("starts")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = pos.where(F.col("term") == term).select(
            "docid",
            F.transform("positions", lambda p: p - i).alias(f"shift_{i}"),
        )
        cur = (
            cur.join(nxt, "docid")
            .select(
                "docid",
                F.array_intersect("starts", f"shift_{i}").alias("starts"),
            )
            .where(F.size("starts") > 0)
        )
    return cur.select(
        "docid",
        F.size("starts").cast("long").alias("n_matches"),
    )


def proximity_query(
    docs: DataFrame, term_a: str, term_b: str, window: int
) -> DataFrame:
    """Proximity retrieval: documents where ``term_a`` and ``term_b``
    co-occur within ``window`` token positions (unordered), with the
    qualifying pair count and the minimum observed distance per doc —
    the ranked-proximity primitive (``"a NEAR/w b"``) classic IR engines
    layer over positional postings.

    Plan: the two terms' positional postings equi-join on docid (cost
    bounded by the rarer term's posting list, like :func:`phrase_query`),
    then the pair predicate runs as JVM-side higher-order array
    functions over the two position arrays — ``aggregate`` +
    ``filter``/``array_min`` — so positions are never exploded into
    rows and nothing leaves the JVM. Per-doc work is |A|·|B| over
    in-memory ints, bounded by document length, independent of corpus
    size."""
    pos = postings_positional(docs)
    a = pos.where(F.col("term") == term_a).select(
        "docid", F.col("positions").alias("pa")
    )
    b = pos.where(F.col("term") == term_b).select(
        "docid", F.col("positions").alias("pb")
    )
    w = F.lit(window)
    n_pairs = F.aggregate(
        F.col("pa"),
        F.lit(0),
        lambda acc, x: acc + F.size(
            F.filter(F.col("pb"), lambda y: F.abs(y - x) <= w)
        ),
    )
    min_dist = F.aggregate(
        F.col("pa"),
        F.lit(None).cast("int"),
        lambda acc, x: F.least(
            acc, F.array_min(F.transform(F.col("pb"),
                                         lambda y: F.abs(y - x)))
        ),
    )
    return (
        a.join(b, "docid")
        .select(
            "docid",
            n_pairs.cast("long").alias("n_pairs"),
            min_dist.alias("min_dist"),
        )
        .where(F.col("n_pairs") > 0)
    )
